"""LLM-training-data pipeline operators over documents/embeddings, each paired
with a DuckDB oracle where the semantics are exactly SQL-expressible.

Hash/LSH-based operators (MinHash, SimHash, hyperplane ANN) use engine hash
functions whose exact values are implementation details — they are exercised
rows-only (no oracle), with their *exact* verification pair (true Jaccard /
brute-force cosine) present as an oracle-checked query.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_spark.functions import dedup as D
from dbt_spark.functions import similarity as S
from dbt_spark.functions import text as X
from dbt_spark.functions.multimodal import attach_binary_payload, decode_media_meta
from dbt_spark.queries.scratch import Scratch, scratch_query
from dbt_spark.session import load_tables, spread

STOP_ARR = "['" + "', '".join(X.STOPWORDS) + "']"
# GPT-2-style pre-tokenizer classes as one regex, as a DuckDB SQL literal
# (leading '' = escaped apostrophe: contraction suffixes bind to the word)
_BPE_PATTERN_SQL = "'''[a-z]+|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+|\\s+'"
_TOKS = "string_split_regex(trim(text), '\\s+')"
_TOKS_L = "string_split_regex(trim(lower(text)), '\\s+')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): single-row-group test files otherwise serialize the whole
    # regex/tokenize pipeline onto one core (no-op on real-scale inputs)
    return spread(load_tables(spark, sf_dir, "documents")["documents"], spark)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_tables(spark, sf_dir, "embeddings")["embeddings"], spark)


# Trained IVF centroids are a model artifact: train once per (session, corpus),
# reuse across every query batch. Keyed by applicationId so a stopped/restarted
# session never reuses another JVM's checkpointed blocks.
_CENTROIDS: dict = {}


def _trained_centroids(
    spark: SparkSession, sf_dir: str, n_centroids: int = 8, iters: int = 3
) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, n_centroids, iters)
    if key not in _CENTROIDS:
        _CENTROIDS[key] = S.train_centroids(
            _emb(spark, sf_dir), n_centroids, iters
        )  # train_centroids localCheckpoints: the result is materialized once
    return _CENTROIDS[key]


_CODEBOOKS: dict = {}


def _trained_codebooks(spark: SparkSession, sf_dir: str,
                       m: int = 8, k: int = 16, iters: int = 2) -> DataFrame:
    """Session-scoped PQ codebook cache (same amortization contract as
    _trained_centroids: codebooks are a model artifact — train once per
    (session, corpus), reuse across query batches)."""
    key = (spark.sparkContext.applicationId, sf_dir, m, k, iters)
    if key not in _CODEBOOKS:
        _CODEBOOKS[key] = S.pq_train(_emb(spark, sf_dir), m=m, k=k,
                                     n_iter=iters)
    return _CODEBOOKS[key]


# The encoded corpus is the INDEX, not a per-query intermediate: at 100 TB
# the 8-byte PQ codes (and, for IVFADC, their cell tags) are written once at
# ingest and every query batch reads them. These session caches model that:
# built once per (session, corpus), localCheckpointed so the scan starts
# from materialized blocks — per-query cost is then probes + ADC scan +
# shortlist re-rank only.
_PQ_CODES: dict = {}
_IVFPQ_INDEX: dict = {}
_EMB_META: dict = {}


def _emb_meta(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(row count, vector dim) of the embeddings corpus — session-cached
    so per-query plan builds stay free of metadata driver jobs (the
    rerank sizing and PQ subspace width both need these)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _EMB_META:
        e = _emb(spark, sf_dir)
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size("embedding")).alias("dim")).first()
        _EMB_META[key] = (int(row["n"]), int(row["dim"]))
    return _EMB_META[key]


def _encoded_codes(spark: SparkSession, sf_dir: str,
                   m: int = 8, k: int = 16) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, m, k)
    if key not in _PQ_CODES:
        _PQ_CODES[key] = S.pq_encode(
            _emb(spark, sf_dir),
            _trained_codebooks(spark, sf_dir, m=m, k=k),
        ).localCheckpoint(eager=True)
    return _PQ_CODES[key]


def _ivfpq_idx(spark: SparkSession, sf_dir: str,
               m: int = 8, k: int = 16, n_centroids: int = 8) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, m, k, n_centroids)
    if key not in _IVFPQ_INDEX:
        _IVFPQ_INDEX[key] = S.ivfpq_index(
            _emb(spark, sf_dir),
            _trained_centroids(spark, sf_dir, n_centroids=n_centroids),
            _trained_codebooks(spark, sf_dir, m=m, k=k),
        ).localCheckpoint(eager=True)
    return _IVFPQ_INDEX[key]


def warm_ann_artifacts(spark: SparkSession, sf_dir: str) -> dict:
    """Force-build every ANN model/index artifact (IVF centroids, PQ
    codebooks, encoded codes, IVFADC index) — the amortized ingest-time
    work. bench.py times this ONCE as `ann_train_artifacts` so the
    per-query ANN bench entries measure the search path alone, mirroring
    production where training/encoding never runs inside a query."""
    t0 = time.time()
    _emb_meta(spark, sf_dir)
    _trained_centroids(spark, sf_dir).count()
    _trained_codebooks(spark, sf_dir).count()
    n_codes = _encoded_codes(spark, sf_dir).count()
    n_idx = _ivfpq_idx(spark, sf_dir).count()
    return {"sec": round(time.time() - t0, 3),
            "n_codes": int(n_codes), "n_index_rows": int(n_idx)}


_DOCS_RAW_SPREAD: dict = {}


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan for Pandas-UDF (multimodal) paths, spread to a
    ROW-count-adaptive partition count: the file arrives as one parquet
    row group, so the chained mapInPandas codec stages would otherwise
    encode+decode every payload on ONE core. Row count comes from the
    parquet footer (no Spark job); ~400 docs per partition amortizes the
    Python-worker batch startup that dominates tiny inputs (A/B at sf0.1:
    150/part over-fans cheap header-only codecs 2.5x while 1000/part
    re-serializes the heavy JPEG path; 400 is best for both). Real-scale
    inputs already parallelize at the scan and the cheap doc-row shuffle
    is then bounded by the core count."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _DOCS_RAW_SPREAD:
        try:
            import pyarrow.parquet as pq

            rows = pq.read_metadata(
                os.path.join(sf_dir, "documents.parquet")).num_rows
        except Exception:  # noqa: BLE001 — non-file layout: keep the scan
            rows = 0
        target = min(spark.sparkContext.defaultParallelism, max(1, rows // 400))
        _DOCS_RAW_SPREAD[key] = (
            docs.repartition(target).localCheckpoint(eager=False)
            if target > 1 else docs
        )
    return _DOCS_RAW_SPREAD[key]


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", X.token_count("text").alias("n_tokens"))


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.stopword_ratio("text").alias("stopword_ratio"),
        X.quality_score("text").alias("quality_score"),
    )


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", X.lang_id("text").alias("lang_pred"))


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language-ID heuristic against the
    labeled lang column: (labeled, predicted, n_docs, share-of-labeled) — the
    precision/recall dashboard for a classifier run at corpus scale.

    Scale: classification is a pure column expression; the matrix is one
    map-side-combined aggregate on (lang, lang_pred) (≤ |langs|² rows) and
    per-label totals broadcast back. Nothing shuffles more than the matrix."""
    preds = _docs(spark, sf_dir).select(
        "lang", X.lang_id("text").alias("lang_pred")
    )
    cells = preds.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    totals = cells.groupBy("lang").agg(F.sum("n_docs").alias("total"))
    return cells.join(F.broadcast(totals), "lang").select(
        "lang", "lang_pred", "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 6)
        .alias("share"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", X.fingerprint("text", 8).alias("fingerprint")
    )


def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", X.rolling_hash("text").alias("rhash")
    )


# --------------------------------------------------------------------------
# dedup family
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a composite key: keep lowest doc_id per (lang, n_chars)."""
    return D.exact_dedup(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        ["lang", "n_chars"],
        "doc_id",
    )


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.fingerprint_dedup(
        _docs(spark, sf_dir).select("doc_id", "text"), "text", "doc_id", k=8
    ).select("doc_id")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard pairs with the scale bound ON: shingles with
    document frequency > 12 are dropped before the inverted-index self-join
    (functions/dedup.py jaccard_pairs max_shingle_df — per-shingle fan-out
    capped at 12², candidate volume linear in corpus size). The oracle
    mirrors the cap, so the df-capped semantics themselves are
    value-verified against DuckDB."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    return D.jaccard_pairs(
        docs, "text", "doc_id", n=2, threshold=0.1, max_shingle_df=12
    ).select(
        "id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs (engine-hash based → rows-only check; exact
    verification of the same notion is dedup_ngram_jaccard above)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    return D.minhash_lsh_candidates(docs, "text", "doc_id", num_perm=16, bands=4)


def dedup_minhash_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component MinHash dedup survivors (min id kept per near-dup
    cluster; iterative label propagation — functions/dedup.py
    minhash_dedup_cc). Engine-hash based → rows-only check; the component
    policy itself is pytest-proven on a planted 3-chain
    (tests/test_llmops.py::test_minhash_cc_dedup_planted_chain_keeps_one)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    return (
        D.minhash_dedup_cc(
            docs.select("doc_id", "text"), "text", "doc_id",
            threshold=0.5, num_perm=16, bands=4,
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    return D.simhash_bands(docs, "text", "doc_id")


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_neardup_pairs(_emb(spark, sf_dir), threshold=0.3, bound=200)


#: bitext mining knobs: margin neighborhood size, mined threshold, and
#: the exact-all-pairs candidate bound (oracle cap, like embedding_neardup)
_BITEXT_K = 4
_BITEXT_BOUND = 200


def bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    LASER/ccMatrix criterion, public): two sides (fixture: even/odd
    vec_id under the bound) score all cross pairs by cosine, normalize
    each pair's score by the mean cosine of both endpoints' K-nearest
    neighborhoods (the RATIO margin — absolute cosine thresholds fail
    under hubness), and keep each query's argmax candidate with its
    margin and a mined flag at margin > 1.0.

    Scale: the all-pairs stage is the `bound`-capped ORACLE variant
    (same contract as embedding_neardup); the production path routes
    candidate generation through the IVF/LSH machinery and applies the
    identical margin algebra on candidates only. Determinism: dot
    products are exact DECIMAL, cosines double, neighborhood means are
    exact-decimal sums of round-12 cosines divided once — no float
    accumulation order anywhere."""
    from pyspark.sql import Window

    from dbt_spark.functions.similarity import _dot_exact, with_norm

    base = with_norm(_emb(spark, sf_dir), "embedding").filter(
        F.col("vec_id") < _BITEXT_BOUND)
    qs = base.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("va"),
        F.col("__norm2").alias("na2"))
    cs = base.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("vb"),
        F.col("__norm2").alias("nb2"))
    cos = (
        _dot_exact("va", "vb").cast("double")
        / (F.sqrt(F.col("na2").cast("double"))
           * F.sqrt(F.col("nb2").cast("double")))
    )
    pairs = (
        qs.crossJoin(cs)  # bound-capped oracle variant (see docstring)
        .select("qid", "bid", cos.alias("cos"))
        # round-12 decimal image of the cosine: exact-decimal neighbor
        # sums below stay order-independent
        .withColumn("cos_d", F.col("cos").cast("decimal(20,12)"))
    )
    w_q = Window.partitionBy("qid").orderBy(F.col("cos").desc(),
                                            F.col("bid").asc())
    w_b = Window.partitionBy("bid").orderBy(F.col("cos").desc(),
                                            F.col("qid").asc())
    ranked = (pairs.withColumn("rq", F.row_number().over(w_q))
              .withColumn("rb", F.row_number().over(w_b)))
    rq_mean = (
        ranked.filter(F.col("rq") <= _BITEXT_K)
        .groupBy("qid")
        .agg((F.sum("cos_d").cast("double") / _BITEXT_K).alias("q_nbhd"))
    )
    rb_mean = (
        ranked.filter(F.col("rb") <= _BITEXT_K)
        .groupBy("bid")
        .agg((F.sum("cos_d").cast("double") / _BITEXT_K).alias("b_nbhd"))
    )
    margin = F.col("cos") / ((F.col("q_nbhd") + F.col("b_nbhd")) / 2)
    scored = (
        pairs.join(rq_mean, "qid").join(rb_mean, "bid")
        .withColumn("margin", margin)
    )
    w_best = Window.partitionBy("qid").orderBy(
        F.col("margin").desc(), F.col("bid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "qid", F.col("bid").alias("best_bid"),
            F.round("cos", 6).alias("cos_r6"),
            # r4, not r6: margin is a RATIO of decimal->double casts, so
            # it inherits ~2 ulp of engine divergence (the round-2
            # documented gotcha); round-6 sits on a boundary for one
            # fixture pair, round-4 gives 1e11x boundary headroom
            F.round("margin", 4).alias("margin_r4"),
            (F.col("margin") > 1.0).alias("mined"),
        )
        .orderBy("qid")
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class means) — the clustering /
    prototype primitive. Element-wise mean via posexplode + one aggregate
    keyed on (label, position): sums are exact DECIMAL (order-independent →
    bit-reproducible across any partitioning), final mean is one double
    division.

    Scale: the only shuffle carries (label × dim) partial sums thanks to
    map-side combine — at 100 TB the exchange is tiny regardless of row
    count; no driver-side vectors."""
    emb = _emb(spark, sf_dir)
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    return (
        flat.groupBy("label", "pos")
        .agg(
            F.sum(F.col("v").cast("decimal(18,9)")).alias("s"),
            F.count("*").cast("bigint").alias("n"),
        )
        .select(
            "label",
            F.col("pos").cast("int").alias("pos"),
            # float→DECIMAL casts differ at ~1e-10 between engines (each
            # renders float32 differently before the cast) — round(…,6) on
            # the final DOUBLE absorbs it (doubles have no decimal ties)
            F.round(F.col("s").cast("double") / F.col("n").cast("double"), 6)
            .alias("mean_val"),
            "n",
        )
    )


def oov_rate_vs_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus top-50 vocabulary —
    the tokenizer-coverage signal (what fraction of a doc a fixed vocab
    cannot express). Composes vocab_top_terms as the broadcast side.

    Scale: the vocab is top-K (tiny) and BROADCAST; the corpus-side token
    stream takes a map-side hash semi-probe, then one per-doc aggregate —
    the 100 TB corpus never shuffles tokens, only per-doc counts."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.length("token") > 0)
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"))
            .alias("oov_rate"),
        )
    )


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling — the corpus-mixing primitive
    of a training-data pipeline (e.g. keep 50% en, 25% de, 75% fr, all es).

    The keep/drop decision is a pure function of doc_id: the last hex nibble
    of md5(doc_id) (uniform 0-15) is compared to the language's 16ths-rate.
    No rand(), no sampleBy — rerunning the pipeline (or running it on two
    clusters) selects the SAME rows, which makes the sample reproducible and
    incremental-safe at 100 TB: new docs don't reshuffle old decisions.
    All codegen'd expressions; one scan, no shuffle, filter pushes to scan.
    """
    docs = _docs(spark, sf_dir)
    nibble = F.expr(
        "instr('0123456789abcdef', "
        "substring(md5(cast(doc_id as string)), 32, 1)) - 1"
    )
    thresh = (
        F.when(F.col("lang") == "en", 8)
        .when(F.col("lang") == "de", 4)
        .when(F.col("lang") == "fr", 12)
        .when(F.col("lang") == "es", 16)
        .otherwise(2)
    )
    return (
        docs.filter(nibble < thresh)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per source corpus, documents are
    laid out in doc_id order on a token stream and chunked into fixed
    context windows (2048 tokens) — each doc gets (chunk_id, chunk_offset),
    the standard pretraining packing layout.

    Scale: ONE shuffle (window partitioned by source, ordered by doc_id);
    all integer math, so the layout is bit-identical across engines. At
    100 TB the partition key is the source shard, which is how packing is
    parallelized in practice (each shard packs independently).
    """
    from pyspark.sql import Window as W

    budget = 2048
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", X.token_count("text").alias("n_tokens")
    )
    cum = F.sum("n_tokens").over(W.partitionBy("source").orderBy("doc_id"))
    start = (cum - F.col("n_tokens")).alias("stream_start")
    return docs.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(start / budget).cast("bigint").alias("chunk_id"),
        (start % budget).cast("bigint").alias("chunk_offset"),
    ).orderBy("source", "doc_id")


#: RAG chunking window / stride (chars): 50-char overlap between chunks
_CHUNK_W = 200
_CHUNK_S = 150


def chunk_with_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap — the RAG/embedding
    ingestion shape (fixed window W, stride S < W, so consecutive chunks
    share W−S chars of context). Chunk starts are 0, S, 2S, … up to the
    last multiple of S below the doc length; tail chunks may be shorter
    than W. Emits per chunk: index, char offset, actual length, and the
    chunk md5 (byte-exact pairing of the substring math).

    Scale (100 TB): pure map-side fan-out — sequence/explode over the
    scan, fan-out ∝ len/S per doc, substring+md5 codegen'd; NO shuffle
    anywhere (the orderBy is the test harness's determinism sort). This
    is the op that feeds embedding backfills, so staying shuffle-free is
    the whole design."""
    # empty docs chunk to nothing (guard: Spark sequence(0,-1) would DESCEND)
    docs = _docs(spark, sf_dir).filter(F.length("text") >= 1)
    w, s = _CHUNK_W, _CHUNK_S
    chunks = docs.select(
        "doc_id",
        F.length("text").alias("len"),
        F.col("text"),
        F.explode(
            F.sequence(F.lit(0), F.floor((F.length("text") - 1) / s))
        ).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * s
    return (
        chunks.select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            start.cast("bigint").alias("start_off"),
            F.least(F.lit(w), F.col("len") - start).cast("bigint")
            .alias("chunk_len"),
            F.md5(F.substring(F.col("text"), (start + 1).cast("int"), w))
            .alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


#: RAG retrieval-eval knobs: query fixture (every 17th doc, a 120-char
#: probe starting at char 301 — inside chunk 2 of the 200/150 chunking),
#: top-k, and the gram document-frequency cap (IDF pruning: grams hotter
#: than 100 chunks carry no discrimination and would dominate join cost)
_RAG_Q_MOD = 17
_RAG_Q_OFF = 300
_RAG_Q_LEN = 120
_RAG_K = 5
_RAG_DF_CAP = 100


def rag_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation over the chunk store: plant a query
    inside a known chunk (fixture: chars 301-420 of every 17th document
    — fully inside chunk 2 of the 200/150 sliding chunking), retrieve
    top-k chunks by shared distinct word-3-grams, and report per query
    the rank of the GOLD chunk, hit@k, and the winner — the recall
    harness a RAG ingestion pipeline runs after every re-chunk/re-embed.

    Scale: gram matching joins 8-byte hashes with a document-frequency
    cap (grams in > 100 chunks are dropped — IDF pruning bounds the
    per-gram fan-out exactly like jaccard_pairs' max_shingle_df);
    scoring shuffles (query, chunk) pairs once; ranking windows are
    query-partitioned. The DuckDB oracle joins raw gram strings, so a
    hash collision would surface as a value mismatch."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w, s = _CHUNK_W, _CHUNK_S

    def grams3(df: DataFrame, text_col: str, keys: list) -> DataFrame:
        toks = F.split(F.trim(F.lower(text_col)), r"\s+")
        return (
            df.select(*keys, toks.alias("t"))
            .filter(F.size("t") >= 3)
            .select(
                *keys,
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("t") - 3),
                        lambda i: F.concat_ws(
                            " ", F.element_at("t", i + 1),
                            F.element_at("t", i + 2),
                            F.element_at("t", i + 3)),
                    )
                ).alias("g"),
            )
            .select(*keys, F.xxhash64("g").alias("h"))
            .distinct()
        )

    queries = docs.filter(
        (F.col("doc_id") % _RAG_Q_MOD == 0)
        & (F.length("text") >= _RAG_Q_OFF + _RAG_Q_LEN + 1)
    ).select(
        F.col("doc_id").alias("qid"),
        F.substring("text", _RAG_Q_OFF + 1, _RAG_Q_LEN).alias("qtext"),
    )
    chunks = (
        docs.filter(F.length("text") >= 1)
        .select(
            "doc_id", F.length("text").alias("len"), "text",
            F.explode(
                F.sequence(F.lit(0), F.floor((F.length("text") - 1) / s))
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id", "chunk_idx",
            F.substring(
                F.col("text"), (F.col("chunk_idx") * s + 1).cast("int"), w
            ).alias("ctext"),
        )
    )
    qg = grams3(queries, "qtext", [F.col("qid")])
    # pinned: the chunk-gram explode+distinct feeds BOTH the hot-gram DF
    # aggregate and the anti-join probe side — unpinned it runs twice
    cg = grams3(chunks, "ctext", [F.col("doc_id"), F.col("chunk_idx")]
                ).localCheckpoint(eager=False)
    hot = (cg.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > _RAG_DF_CAP).select("h"))
    cg = cg.join(F.broadcast(hot), "h", "left_anti")
    qg = qg.join(F.broadcast(hot), "h", "left_anti")
    # qsizes anchors on the QUERY LIST, not the surviving grams, so a
    # query whose grams were all DF-capped still reports n_query_grams=0
    # (ADVICE r12 — the recall denominator must include zero-gram queries).
    qsizes = (
        queries.select("qid")
        .join(
            qg.groupBy("qid").agg(
                F.count(F.lit(1)).cast("bigint").alias("ng")),
            "qid", "left")
        .select("qid", F.coalesce("ng", F.lit(0)).cast("bigint")
                .alias("n_query_grams"))
    )
    scores = (
        qg.join(cg, "h")
        .groupBy("qid", "doc_id", "chunk_idx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("score"))
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc(),
        F.col("chunk_idx").asc())
    ranked = scores.withColumn("rank", F.row_number().over(w_rank))
    top = ranked.filter(F.col("rank") <= _RAG_K)
    gold = (F.col("doc_id") == F.col("qid")) & (F.col("chunk_idx") == 2)
    per_q = top.groupBy("qid").agg(
        F.max(F.when(gold, F.col("rank"))).cast("bigint")
        .alias("gold_rank"),
        F.max(F.when(F.col("rank") == 1, F.col("doc_id")))
        .cast("bigint").alias("top1_doc"),
        F.max(F.when(F.col("rank") == 1, F.col("chunk_idx")))
        .cast("bigint").alias("top1_chunk"),
        F.max(F.when(F.col("rank") == 1, F.col("score")))
        .cast("bigint").alias("top1_score"),
    )
    # LEFT join (ADVICE r12): a query whose grams all got DF-capped or
    # matched no chunk must appear with gold_rank NULL / hit_at_k false,
    # not vanish — an inner join would overstate recall.
    return (
        qsizes.join(per_q, "qid", "left")
        .select(
            "qid", "n_query_grams", "gold_rank",
            F.col("gold_rank").isNotNull().alias("hit_at_k"),
            "top1_doc", "top1_chunk", "top1_score",
        )
        .orderBy("qid")
    )


def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: quality scoring → language routing →
    fingerprint dedup → per-language corpus stats (low-quality docs dropped,
    the rest bucketed by predicted language). The composition a 100 TB
    curation job runs as ONE declarative plan.

    Scale: every stage is codegen'd column math over one documents scan — no
    UDFs, no collect; the only shuffles are the fingerprint-dedup aggregate
    and the tiny final per-language rollup. Dedup is a struct-min HASH
    aggregate keyed by fingerprint (keep the min-doc_id row), not a
    sort-based window: partial aggregation collapses duplicates map-side
    before the exchange, which at 100 TB moves only one row per distinct
    fingerprint instead of sorting every row within each hash partition.
    """
    docs = _docs(spark, sf_dir)
    feats = docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.quality_score("text").alias("quality_score"),
        X.lang_id("text").alias("lang_pred"),
        X.fingerprint("text", 8).alias("fp"),
    # PINNED: predicate pushdown otherwise clones the whole quality
    # expression below the spread exchange — every doc pays the heavy
    # score math twice, and the pushed copy runs on the scan's split
    # count (one task on a single-row-group file). The pin is per-doc
    # NARROW rows (5 columns, no text), well below the materialization
    # knee; the score/lang/fingerprint math runs exactly once, spread
    # across cores. Same-window A/B: 1.12 -> 0.82 s.
    ).localCheckpoint(eager=False)
    kept = feats.filter(F.col("quality_score") >= 0.2)
    deduped = (
        kept.groupBy("fp")
        .agg(
            F.min(
                F.struct("doc_id", "lang_pred", "n_tokens", "quality_score")
            ).alias("first_doc")
        )
        .select("first_doc.*")
    )
    return (
        deduped.groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("quality_score").alias("min_quality"),
            F.max("quality_score").alias("max_quality"),
        )
        .orderBy("lang_pred")
    )


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count: the GPT-2-style splitter classes
    (letter runs / digit chunks / punctuation runs / whitespace) as a single
    regex — the cheap proxy for 'how many BPE tokens will this doc cost'
    without shipping a vocab. Codegen'd regexp_count, zero Python."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            r"regexp_count(text, '''[a-z]+|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+|\\s+')"
        ).cast("bigint").alias("n_bpe_tokens"),
        X.token_count("text").alias("n_ws_tokens"),
    )


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report per language: BPE-ish tokens per
    whitespace word (fertility — how many subwords the tokenizer spends
    per word, the standard multilingual-tokenizer cost metric) and chars
    per BPE token (compression). High-fertility languages burn context
    budget; this is the table a vocab/mixture owner reads before fixing
    per-language token budgets.

    Plan: one scan — both token counts are codegen'd regexp/array math
    (token_count_bpe's splitter classes) — then a lang-keyed aggregate
    with map-side partials; dimension-sized output, round-6 ratios of
    exact bigint sums."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "lang",
        F.expr(
            r"regexp_count(text, '''[a-z]+|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+|\\s+')"
        ).cast("bigint").alias("n_bpe"),
        X.token_count("text").alias("n_ws"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
        F.sum("n_ws").cast("bigint").alias("ws_tokens"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )
    return (
        agg.select(
            "lang", "n_docs", "bpe_tokens", "ws_tokens", "chars_total",
            F.round(F.col("bpe_tokens").cast("double")
                    / F.col("ws_tokens").cast("double"), 6)
            .alias("fertility"),
            F.round(F.col("chars_total").cast("double")
                    / F.col("bpe_tokens").cast("double"), 6)
            .alias("chars_per_token"),
        )
        .orderBy("lang")
    )


#: word2vec negative-sampling table: slot count and the count exponent's
#: rational form (c^0.75 computed as sqrt(c·sqrt(c)) — IEEE-exact, no pow)
_NEG_TABLE_SLOTS = 1000


def skipgram_negative_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table construction (Mikolov et al.
    2013, public): tokens weighted by count^0.75, a fixed-size slot
    table partitioned proportionally — the draw table every skip-gram /
    contrastive trainer ships to workers. Per token: its count, weight
    share, and slots assigned.

    Determinism: c^0.75 = sqrt(c·sqrt(c)) (two correctly-rounded IEEE
    sqrts, no transcendental pow); weights fix to DECIMAL(28,12); the
    cumulative partition is an EXACT decimal comparison cross-multiplied
    to integers (slot s belongs to token t iff cum_lo·2M < total·(2s+1)
    ≤ cum_hi·2M) — no float boundary anywhere after the weight fix.

    Plan: one token-count aggregate; the cumulative runs as a self-join
    over the VOCABULARY (not the corpus — vocab² rows, metadata-sized;
    a global window would single-task the sort, and the vocab is the
    natural broadcast side at any corpus scale); slots are a 1000-row
    range crossJoined broadcast."""
    docs = _docs(spark, sf_dir)
    freq = (
        docs.select(F.explode(
            F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"))
        .filter(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = F.sqrt(F.col("c").cast("double")
               * F.sqrt(F.col("c").cast("double")))
    wd = freq.select("tok", "c", w.cast("decimal(28,12)").alias("wd"))
    a = wd.alias("a")
    b = wd.alias("b")
    # vocab-sized self-join cumsum in (c DESC, tok ASC) order
    cum = (
        a.join(
            F.broadcast(b),
            (F.col("b.c") > F.col("a.c"))
            | ((F.col("b.c") == F.col("a.c"))
               & (F.col("b.tok") <= F.col("a.tok"))),
        )
        .groupBy(F.col("a.tok").alias("tok"), F.col("a.c").alias("c"),
                 F.col("a.wd").alias("wd"))
        .agg(F.sum(F.col("b.wd")).cast("decimal(38,12)").alias("cum_hi"))
        .withColumn("cum_lo",
                    (F.col("cum_hi") - F.col("wd")).cast("decimal(38,12)"))
    )
    total = wd.agg(F.sum("wd").cast("decimal(38,12)").alias("total"))
    m = _NEG_TABLE_SLOTS
    slots = spark.range(m).select(F.col("id").alias("slot"))
    assigned = (
        cum.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(slots))  # vocab × 1000 slots, both tiny
        .filter(
            (F.col("cum_lo") * (2 * m)
             < F.col("total") * (2 * F.col("slot") + 1))
            & (F.col("total") * (2 * F.col("slot") + 1)
               <= F.col("cum_hi") * (2 * m))
        )
    )
    return (
        assigned.groupBy("tok", "c", "wd", "total")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_slots"),
            F.min("slot").cast("bigint").alias("first_slot"),
            F.max("slot").cast("bigint").alias("last_slot"),
        )
        .select(
            "tok", "c", "n_slots", "first_slot", "last_slot",
            F.round(F.col("wd").cast("double")
                    / F.col("total").cast("double"), 6)
            .alias("weight_share_r6"),
        )
        .orderBy("tok")
    )


#: vocabulary coverage checkpoints (top-k distinct tokens by frequency)
_COVERAGE_KS = (100, 500, 2000)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for top-k vocabularies at fixed
    checkpoints, the share of all token OCCURRENCES covered — the curve
    that sizes a vocab (diminishing coverage per added type) and flags
    heavy-tail corpora. Deterministic top-k: ties broken by token text.

    Plan: one token-frequency aggregate (map-side partials), then per
    checkpoint a TakeOrderedAndProject top-k (no global window — the
    k·checkpoints rows collapse to one coverage sum each) unioned into a
    checkpoint-sized output. The frequency table shuffles once and is
    reused across checkpoints via cache-free recompute of a tiny plan."""
    docs = _docs(spark, sf_dir)
    freq = (
        docs.select(F.explode(
            F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"))
        .filter(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    totals = freq.agg(
        F.sum("c").cast("bigint").alias("total_occurrences"),
        F.count(F.lit(1)).cast("bigint").alias("total_types"),
    )
    parts = []
    for k in _COVERAGE_KS:
        topk = freq.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(k)
        parts.append(
            topk.agg(
                F.lit(k).cast("bigint").alias("vocab_k"),
                F.count(F.lit(1)).cast("bigint").alias("types_used"),
                F.sum("c").cast("bigint").alias("occurrences_covered"),
            )
        )
    curve = parts[0]
    for p in parts[1:]:
        curve = curve.unionByName(p)
    return (
        curve.crossJoin(F.broadcast(totals))  # 1-row totals frame
        .select(
            "vocab_k", "types_used", "occurrences_covered",
            "total_occurrences", "total_types",
            F.round(F.col("occurrences_covered").cast("double")
                    / F.col("total_occurrences").cast("double"), 6)
            .alias("coverage"),
        )
        .orderBy("vocab_k")
    )


def decontamination_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination: drop every training doc whose
    fingerprint collides with a held-out benchmark set (here: every 97th doc
    stands in for the benchmark). The shape is a fingerprint anti-join —
    at 100 TB the benchmark side is tiny and broadcast, so the scan of the
    corpus never shuffles."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", X.fingerprint("text", 8).alias("fp")
    )
    benchmark = docs.filter(F.col("doc_id") % 97 == 0).select("fp").distinct()
    return (
        docs.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(benchmark), "fp", "left_anti")
        .select("doc_id")
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regexp_replace of emails/phone-shaped substrings with
    typed placeholders — the standard pre-training privacy pass. Synthetic
    PII is injected deterministically per doc so the redaction is checkable.
    One projection, fully codegen'd."""
    docs = _docs(spark, sf_dir)
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" reach user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("dirty_text"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\d{3}-\d{4}"
    return dirty.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("dirty_text", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("clean_text"),
        F.regexp_count("dirty_text", F.lit(email)).cast("bigint").alias("n_emails"),
    )


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 corpus split: the split decision is a pure
    function of md5(doc_id) (like corpus_weighted_sample) — reruns and
    late-arriving shards land in the SAME split, no rand(), no global sort.
    Returns per-(lang, split) counts."""
    docs = _docs(spark, sf_dir)
    bucket = F.expr(
        "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1"
    )
    split = (
        F.when(bucket < 13, "train").when(bucket < 14, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("lang", "split")
    )


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(_emb(spark, sf_dir), F.col("vec_id") < 8, k=5)


def embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table data-quality gate: per norm-decile bucket, vector
    counts, exact norm² sums, zero-vector and non-finite detection, and
    dim consistency — the audit that runs before an embedding backfill
    is allowed into an index build (a single NaN poisons an IVF train).

    Plan: one scan; norm² is an exact DECIMAL sum over the component
    array (F.aggregate — no explode), flags are higher-order EXISTS
    scans; one dimension-sized bucket aggregate. Norm² stays decimal
    until the final round-6 double."""
    emb = _emb(spark, sf_dir)

    # Non-finite guard BEFORE the decimal math (ADVICE r12): a NaN/Inf
    # component would NULL Spark's decimal norm² (row vanishes into a NULL
    # bucket) while DuckDB's DECIMAL cast errors outright — precisely the
    # defective vectors this audit exists to catch. Treat bad components
    # as 0 in BOTH engines so bad vectors bucket deterministically (and
    # still count in n_nonfinite via has_bad).
    def _fin(x):
        return F.when(
            x.isNull() | F.isnan(x) | (F.abs(x) > F.lit(1e30)), F.lit(0.0)
        ).otherwise(x)

    # accumulator re-cast each step: Spark types the addition (38,17) and
    # the lambda must return the accumulator's exact type. The 1e-17
    # HALF_UP step rounding is invisible under the round-6 output.
    norm2 = F.aggregate(
        "embedding",
        F.lit(0).cast("decimal(38,18)"),
        lambda a, x: (
            a + (_fin(x).cast("decimal(18,9)") * _fin(x).cast("decimal(18,9)"))
            .cast("decimal(38,18)")
        ).cast("decimal(38,18)"),
    )
    has_bad = F.exists(
        "embedding", lambda x: x.isNull() | F.isnan(x)
        | (F.abs(x) > F.lit(1e30)))
    d = emb.select(
        F.size("embedding").cast("bigint").alias("dim"),
        norm2.alias("n2"),
        has_bad.alias("bad"),
        (norm2 == 0).alias("zero"),
    )
    # floor, not cast: Spark casts truncate but DuckDB casts ROUND; the
    # +0.5 offset keeps every bucket edge >=0.25 away from the unit norm
    # the fixture (and any normalized table) clusters at, so the engines'
    # ~1e-9 float->decimal cast divergence can never flip a bucket
    bucket = F.least(
        F.floor(F.col("n2") * 2 + F.lit(0.5).cast("decimal(2,1)"))
        .cast("bigint"), F.lit(9))
    return (
        d.groupBy("dim", bucket.alias("norm2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.col("zero").cast("int")).cast("bigint")
            .alias("n_zero"),
            F.sum(F.col("bad").cast("int")).cast("bigint")
            .alias("n_nonfinite"),
            F.round(F.sum("n2").cast("double"), 6).alias("sum_norm2_r6"),
        )
        .orderBy("dim", "norm2_bucket")
    )


#: PCA power-iteration knobs: fixed-point quantization scale + iterations
_PCA_Q = 1000
_PCA_ITERS = 3


def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding table via POWER ITERATION
    over the (uncentered) second-moment matrix — the distributed linear-
    algebra primitive behind PCA whitening / spectral embedding-quality
    checks, kept BIT-EXACT cross-engine by integer fixed-point: embedding
    components quantize to floor(x·1000) longs, A = Σ x xᵀ accumulates in
    exact BIGINT, and every iterate renormalizes to max-abs 1000 with
    truncate-toward-zero integer division (no float accumulation order
    anywhere — the same trick as copurchase_pagerank's unrolled rounds,
    hardened from round-6 doubles to exact ints). Three unrolled
    iterations; the oracle runs the identical recurrence as MATERIALIZED
    CTEs. NOTE: the fixture embeddings are near-isotropic (λ1/λ2 ≈ 1.07)
    so k=3 demonstrates the primitive, not a converged eigenvector — a
    production run raises the round count to match the spectrum (cost is
    k broadcasts of a d-row vector; A is computed once).

    Plan (100 TB): A is d²=4096 entries — metadata-sized, computed by a
    self-join on vec_id with map-side partial sums (one shuffle of
    (i,j)-keyed longs); each iteration is a broadcast of the d-row
    vector against the d²-row matrix (A never moves); the 1-row scale
    crossJoins back broadcast. Corpus size only affects the FIRST
    aggregate."""
    emb = _emb(spark, sf_dir)
    x = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .select(
            "vec_id", "i",
            F.floor(F.col("v").cast("double") * _PCA_Q)
            .cast("bigint").alias("xq"),
        )
    )
    a = x.alias("a")
    b = x.alias("b")
    # pin the d²-entry moment matrix: the iteration references it once per
    # round (plus the init vector's distinct), so an unpinned lineage
    # re-runs the corpus self-join per reference; likewise pin each
    # round's d-row Av frame, which is referenced twice (scale + update)
    # — without it the upstream doubles per iteration
    mat = (
        a.join(b, "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.xq") * F.col("b.xq")).alias("m"))
    ).localCheckpoint(eager=False)
    v = mat.select("i").distinct().select(
        F.col("i").alias("dim"), F.lit(int(_PCA_Q)).cast("bigint").alias("val"))
    scale = None
    for _ in range(_PCA_ITERS):
        av = (
            mat.join(F.broadcast(v), mat["j"] == v["dim"])
            .groupBy("i")
            .agg(F.sum(F.col("m") * F.col("val")).alias("num"))
        ).localCheckpoint(eager=False)
        scale = av.agg(F.max(F.abs("num")).cast("bigint").alias("s"))
        v = (
            av.crossJoin(F.broadcast(scale))  # 1-row scale frame
            .select(
                F.col("i").alias("dim"),
                F.expr(f"({_PCA_Q} * num) div s").cast("bigint").alias("val"),
            )
        )
    return (
        v.crossJoin(F.broadcast(scale))
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.col("val").alias("v_q"),
            F.round(F.col("val").cast("double") / _PCA_Q, 6)
            .alias("v_unit_r6"),
            F.col("s").alias("lambda_scale"),
        )
        .orderBy("dim")
    )


def matryoshka_overlap_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality probe (Kusupati et al. 2022 MRL): how
    much of the exact full-dim cosine top-5 survives when the index stores
    only the first d dims (d ∈ 8/16/32 of 64)? The evaluation a team runs
    before shipping truncated embeddings to cut index cost 2-8×.

    Outputs are INTEGER overlap counts per (query, trunc_dim); internal
    scores use the decimal-exact dot/norm discipline of
    ann_topk_bruteforce, so the ranking (ties broken by nid) is
    bit-identical cross-engine and no float ever reaches the output.

    Scale: one broadcast(q) × corpus pass per truncation width — the
    probe query set is fixed-size, the corpus side streams; at 100 TB
    each pass is a scan with a per-partition top-k accumulator."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)
    # the segment decomposition below hardcodes widths summing to 64 with
    # d64 as the FULL-vector ranking; a corpus regenerated at another width
    # must fail loudly here rather than silently ranking on a truncation
    _n, _dim = _emb_meta(spark, sf_dir)
    if _dim != 64:
        raise ValueError(
            f"matryoshka_overlap_probe assumes 64-wide embeddings "
            f"(full-dim baseline = segment sum 8+8+16+32); corpus has "
            f"dim={_dim}")
    pred = F.col("vec_id") < 8

    # ONE corpus pass for all four truncation widths: prefix dots/norms
    # decompose into SEGMENT sums (1-8, 9-16, 17-32, 33-64); decimal
    # addition at fixed scale is exact, so d16 = d8 + seg(9..16) is
    # bit-identical to _dot_exact over the 16-wide slice — the per-width
    # scores (and hence rankings) match the old 4-pass cosine_topk form
    # exactly while the broadcast(q)×corpus join and the qid-partitioned
    # exchange happen once instead of four times.
    segs = [(8, 1, 8), (16, 9, 8), (32, 17, 16), (64, 33, 32)]

    def seg_dot(a: str, b: str, start: int, ln: int) -> F.Column:
        return S._dot_exact(f"slice({a}, {start}, {ln})",
                            f"slice({b}, {start}, {ln})")

    base = emb.select(
        "vec_id", "embedding",
        *[seg_dot("embedding", "embedding", s, ln).alias(f"ns{w}")
          for w, s, ln in segs])
    q = base.filter(pred).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
        *[F.col(f"ns{w}").alias(f"qs{w}") for w, _, _ in segs])
    c = base.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"),
        *[F.col(f"ns{w}").alias(f"cs{w}") for w, _, _ in segs])
    pairs = (F.broadcast(q).crossJoin(c)
             .filter(F.col("qid") != F.col("nid"))
             .select("qid", "nid",
                     *[F.col(f"qs{w}") for w, _, _ in segs],
                     *[F.col(f"cs{w}") for w, _, _ in segs],
                     *[seg_dot("qv", "nv", s, ln).alias(f"ds{w}")
                       for w, s, ln in segs]))
    cos_cols, qn, nn, dd = [], None, None, None
    for w, _, _ in segs:
        qn = F.col(f"qs{w}") if qn is None else qn + F.col(f"qs{w}")
        nn = F.col(f"cs{w}") if nn is None else nn + F.col(f"cs{w}")
        dd = F.col(f"ds{w}") if dd is None else dd + F.col(f"ds{w}")
        cos_cols.append(
            (dd.cast("double")
             / (F.sqrt(qn.cast("double")) * F.sqrt(nn.cast("double"))))
            .alias(f"cos{w}"))
    scored = pairs.select("qid", "nid", *cos_cols)
    # four windows share the one qid-hash exchange (same partitioning,
    # different orderBy → one shuffle, per-width sorts)
    ranked = scored.select(
        "qid", "nid",
        *[F.row_number().over(
            W.partitionBy("qid").orderBy(F.col(f"cos{w}").desc(), "nid"))
          .alias(f"r{w}") for w, _, _ in segs])
    in5 = {w: F.col(f"r{w}") <= 5 for w, _, _ in segs}
    ov = ranked.groupBy("qid").agg(
        *[F.sum(F.when(in5[w] & in5[64], 1).otherwise(0))
          .cast("bigint").alias(f"o{w}") for w, _, _ in segs[:3]])
    return (
        ov.select(
            "qid",
            F.explode(F.array(*[
                F.struct(F.lit(w).cast("bigint").alias("trunc_dim"),
                         F.col(f"o{w}").alias("overlap5"))
                for w, _, _ in segs[:3]])).alias("x"))
        .select("qid", "x.trunc_dim", "x.overlap5")
        .orderBy("qid", "trunc_dim")
    )


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN (rows-only: recall < 1 by construction, like
    ann_topk_lsh; the exact-recall baseline is ann_topk_bruteforce)."""
    return S.ivf_topk(
        _emb(spark, sf_dir),
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 108),
        k=5,
        centroids=_trained_centroids(spark, sf_dir),
    )


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate by construction → rows-only."""
    return S.lsh_topk(_emb(spark, sf_dir), F.col("id") < 8, k=5)


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC+R refinement (Jégou et al. 2011,
    functions/similarity.py:pq_train/pq_encode/pq_topk): 64-dim float32
    vectors compress to 8 uint8 subspace codes (32× memory), the scan sums
    per-query lookup tables over CODES (never touching float vectors), and
    only the top-R shortlist re-ranks exactly. The function RAISES unless
    recall@5 vs the exact-L2 brute force is ≥ 0.6 for the query set, so the
    driver's rows check doubles as the quality gate (like semdedup's
    invariant; code assignments themselves are engine-specific → rows-only).

    Scale: codebooks are M×K rows (broadcast, amortizable via pq_train
    output reuse); encode is one broadcast join + min_by aggregate; the ADC
    scan is one keyed aggregate over (id, m) rows with map-side partials —
    at 100 TB the corpus stores 8-byte codes and the full-vector reads are
    Q·R point lookups."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)
    pred = (F.col("vec_id") >= 100) & (F.col("vec_id") < 108)
    # shortlist ~1/8 of the corpus: the sf testdata embeddings are ISOTROPIC
    # (within-label cosine == across-label == 0 — see the IVF
    # planted-cluster test note), the hardest case for any quantizer, where
    # recall needs a corpus-proportional ADC shortlist; on clustered
    # real-world embeddings (the planted test) rerank=4k already clears 0.9
    # recall. PQ still prunes 8× of the exact scans and compresses 32×.
    n, dim = _emb_meta(spark, sf_dir)
    out = S.pq_topk(emb, pred, k=5, m=8, n_codes=16, rerank=max(64, n // 8),
                    codebooks=_trained_codebooks(spark, sf_dir),
                    codes=_encoded_codes(spark, sf_dir),
                    subdim=dim // 8, m_count=8)
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["qid"], set()).add(r["nid"])
    q = emb.filter(pred).selectExpr("vec_id AS qid", "embedding AS qv")
    c = emb.selectExpr("vec_id AS nid", "embedding AS nv")
    scored = (F.broadcast(q).crossJoin(c)
              .filter(F.col("qid") != F.col("nid"))
              .withColumn("d2", S._l2sq("qv", "nv")))
    w = W.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid"))
    truth: dict = {}
    for r in (scored.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= 5).collect()):
        truth.setdefault(r["qid"], set()).add(r["nid"])
    hits = sum(len(got.get(qid, set()) & t) for qid, t in truth.items())
    recall = hits / max(1, sum(len(t) for t in truth.values()))
    if recall < 0.6:
        raise RuntimeError(f"PQ recall@5 {recall:.3f} < 0.6 vs brute force")
    return out.orderBy("qid", "rank")


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------

def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_raw(spark, sf_dir)
    return decode_media_meta(attach_binary_payload(docs))


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling over video payloads (every 5th frame) — the
    mapInPandas fan-out plumbing, integer-exact vs the DuckDB oracle."""
    from dbt_spark.functions.multimodal import sample_frames

    payload = attach_binary_payload(_docs_raw(spark, sf_dir)).filter(
        F.col("media_type") == "video/mp4"
    )
    return sample_frames(payload, every_n=5).orderBy("doc_id", "frame_idx")


def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio clip → fixed-size PCM windows with per-window energy (1→N
    mapInPandas fan-out like frame sampling; integer byte-sum statistic is
    exactly restatable over the utf-8 payload in SQL)."""
    from dbt_spark.functions.multimodal import audio_windows

    payload = attach_binary_payload(_docs_raw(spark, sf_dir)).filter(
        F.col("media_type") == "audio/wav"
    )
    return audio_windows(payload, window_bytes=256).orderBy("doc_id", "win_idx")


def multimodal_resize_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize (binary→binary) chained into feature extraction
    (binary→array<float>) — the two-stage media pipeline shape; rows-only
    (stub kernels; exact raw-array values asserted in tests/test_llmops.py).

    Driver contract: the raw ``array<float>`` column is folded to scalar
    digests here (md5 of the comma-joined fixed-format components plus
    rounded sum/min/max) so the harness's pandas canonicalizer — which
    sorts every output column and cannot hash Python lists — can check the
    row set. The array-valued form stays available via
    ``extract_features`` directly and is value-asserted in the unit tests."""
    from dbt_spark.functions.multimodal import extract_features, resize_images

    payload = attach_binary_payload(_docs_raw(spark, sf_dir)).filter(
        F.col("media_type") == "image/png"
    )
    resized = resize_images(payload, width=64, height=48)
    feats = extract_features(resized, dim=16)
    comp = F.transform("features", lambda x: F.format_string("%.6f", x))
    return feats.select(
        "doc_id",
        F.size("features").alias("dim"),
        F.md5(F.concat_ws(",", comp)).alias("feat_md5"),
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 4).alias(
            "feat_sum"
        ),
        F.round(F.array_min("features"), 6).alias("feat_min"),
        F.round(F.array_max("features"), 6).alias("feat_max"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_QUALITY_CTE = f"""
WITH feats AS (
    SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len({_TOKS}) END AS n_tokens,
           CAST(len(list_filter({_TOKS_L}, t -> list_contains({STOP_ARR}, t))) AS BIGINT)
               AS n_stop,
           CAST(length(text) - length(translate(text, '.,!?;:', '')) AS DOUBLE) AS punct,
           CAST(length(text) - length(translate(text, '0123456789', '')) AS DOUBLE) AS digits
    FROM documents
)
"""

# --------------------------------------------------------------------------
# repetition / chunking / n-gram decontamination (round-3 widening)
# --------------------------------------------------------------------------

def repetition_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter (Rae et al. 2021, public):
    per-doc fraction of tokens inside the most common bigram and inside any
    duplicated bigram, with a keep flag at the published-style thresholds.

    Scale: bigrams are built map-side with a transform() lambda over the
    split array (no window sort), then ONE shuffle on (doc_id, gram) with
    map-side partial counts; the per-doc rollup reuses the same hash
    partitioning on doc_id prefix. Cost is O(tokens), no self-joins."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 2)
    grams = d.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1]))"
        )).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.max("c").cast("bigint").alias("top_c"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
         .cast("bigint").alias("dup_c"),
    )
    top_frac = F.col("top_c").cast("double") / F.col("total").cast("double")
    dup_frac = F.col("dup_c").cast("double") / F.col("total").cast("double")
    return per_doc.select(
        "doc_id",
        F.col("total").alias("n_bigrams"),
        F.col("top_c").alias("top_bigram_count"),
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        F.when((top_frac <= 0.20) & (dup_frac <= 0.60), 1).otherwise(0)
         .cast("int").alias("keep_flag"),
    )


def chunk_fixed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length token chunking (context-window packing's upstream step):
    split each doc into 32-token chunks; emit index, length, and an md5 over
    the chunk text for downstream exact dedup at chunk granularity.

    Scale: pure map-side — explode over chunk indices with array slices, no
    shuffle at all (the parquet scan's partitioning carries through)."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 1)
    c = d.select(
        "doc_id", "ws",
        F.explode(F.sequence(
            F.lit(0), F.floor((F.size("ws") - 1) / 32).cast("int")
        )).alias("ci"),
    )
    return c.select(
        "doc_id",
        F.col("ci").cast("int").alias("chunk_idx"),
        F.least(F.lit(32), F.size("ws") - F.col("ci") * 32)
         .cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(
            F.slice("ws", F.col("ci") * 32 + 1, F.lit(32)), " "
        )).alias("chunk_md5"),
    )


def quality_filter_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composite quality gate (Raffel et al. 2020 §2.2,
    Rae et al. 2021 A.1.1, both public): per-doc token count, mean token
    length, stopword hits, and symbol ratio, each bounded; keep_flag is the
    conjunction. The per-doc stats double as the quality-report columns a
    curation dashboard reads.

    Scale: one scan, all stats are codegen'd column math (higher-order
    aggregate over the token array — no explode, no shuffle); the output is
    map-side only."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id",
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"),
        F.length("text").cast("bigint").alias("n_chars"),
        (F.length("text") - F.length(F.translate("text", ".,!?;:#{}[]|", "")))
        .cast("bigint").alias("n_symbols"),
        X.count_matches("text", X.STOPWORDS).alias("stop_hits"),
    ).filter(F.size("ws") >= 1)
    d = d.select(
        "doc_id", "n_chars", "n_symbols", "stop_hits",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.expr("aggregate(ws, 0L, (a, t) -> a + length(t))")
        .cast("bigint").alias("token_chars"),
    )
    mean_len = F.col("token_chars").cast("double") / F.col("n_tokens").cast("double")
    sym_ratio = F.col("n_symbols").cast("double") / F.col("n_chars").cast("double")
    keep = (
        (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 100000)
        & (mean_len >= 3.0) & (mean_len <= 10.0)
        & (F.col("stop_hits") >= 2) & (sym_ratio <= 0.1)
    )
    return d.select(
        "doc_id", "n_tokens",
        mean_len.alias("mean_token_len"),
        "stop_hits",
        sym_ratio.alias("symbol_ratio"),
        keep.cast("int").alias("keep_flag"),
    )


def language_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced subcorpus: cap every language at K docs, chosen by
    deterministic md5(doc_id) order — the standard rebalancing step before
    mixing multilingual training data (caps the head language instead of
    sampling by rand()).

    Scale: one shuffle on lang (the window partition key); no global sort.
    Per-language skew is the known hazard (one giant language) — at 100 TB
    the same plan runs with lang+md5-prefix salting on the window key."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 40)
    )


def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) over the embeddings table: k-means
    cluster assignment (amortized trained centroids), within-cluster
    pairwise cosine, prune every item with a lower-id near-duplicate
    (functions/similarity.py:semdedup_prune). The function RAISES unless
    the result satisfies the dedup invariant — no two KEPT items in one
    cluster remain ≥ threshold — so the driver's rows check doubles as the
    semantic gate (cluster assignment itself is engine-specific, like
    ann_topk_ivf).

    Scale: pairwise work is Σ|cluster|², not N² — the clustering IS the
    blocking structure, and the pair stage runs bucket-salted
    (within_cell_pairs: |cells|×buckets tasks); see semdedup_prune's
    docstring for the plan. The prune result is localCheckpointed so the
    invariant count and the returned rows share one computation."""
    from dbt_spark.functions.similarity import (semdedup_prune,
                                                with_norm, within_cell_pairs)

    emb = _emb(spark, sf_dir)
    out = semdedup_prune(
        emb, _trained_centroids(spark, sf_dir), threshold=0.93
    ).localCheckpoint()
    kept = out.filter(F.col("keep")).select("vec_id", "cell")
    kv = with_norm(emb).join(kept, "vec_id")
    viol = (
        within_cell_pairs(kv, "vec_id", "embedding")
        .filter(F.col("cos_sim") >= 0.93).count()
    )
    if viol:
        raise RuntimeError(
            f"semdedup invariant violated: {viol} kept within-cluster "
            "pairs still >= threshold")
    return out.select(
        "vec_id", "keep",
        F.col("dup_of").cast("bigint").alias("dup_of"),
        "max_cos",
    ).orderBy("vec_id")


def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing — the standard multilingual /
    multi-source pretraining mix (sampling probability ∝ n_i^α with
    α < 1 upweights tail sources; α=0.5 here, T=200 target docs): each
    source's quota is round(T · n_i^α / Σ n_j^α) capped at n_i, filled by
    deterministic md5(doc_id) order so reruns and engines agree — no
    rand().

    Scale: quotas come from ONE count-by-source aggregate (source
    cardinality rows, broadcast back); the fill is the salted per-group
    top-k problem — here a per-source window whose partitions are bounded
    by quota·shard at 100 TB via the same md5-prefix salting as
    language_balanced_sample. Cross-engine determinism: floor(x + 0.5) is
    round-half-up in BOTH dialects (a bare double→int cast truncates in
    Spark but rounds in DuckDB), and the α-power stays in correctly-rounded
    sqrt territory."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum(F.sqrt(F.col("n").cast("double"))).alias("z"))
    quota = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "lang", "n",
            F.greatest(
                F.lit(1),
                F.floor(200.0 * F.sqrt(F.col("n").cast("double"))
                        / F.col("z") + 0.5).cast("int"),
            ).alias("q"),
        )
        .select("lang", F.least(F.col("q"), F.col("n").cast("int")).alias("q"))
    )
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).alias("mix_rank"))
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("mix_rank") <= F.col("q"))
        .select("doc_id", "lang", F.col("mix_rank").cast("bigint").alias("mix_rank"))
    )


def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-ratio data selection (Data Selection for
    Language Models via Importance Resampling, Xie et al. 2023,
    arXiv:2302.03169): score each raw-corpus document by how target-like
    its hashed n-gram profile is, keep the deterministic top-k. Features
    are word uni+bigrams hashed into B=4096 buckets (first 3 hex digits of
    md5 — the engine-portable hex trick from corpus_shuffle_deterministic);
    the target slice here is lang='en', candidates are the rest. Per-bucket
    weight lam_b = ln p_target(b) − ln p_raw(b) with +0.5 add-smoothing; a
    doc's score is the sum of lam over its feature occurrences; selection
    orders by (rounded score DESC, doc_id).

    Scale: bucket stats are ONE conditional aggregate keyed on B=4096
    buckets (map-side partial agg bounds the shuffle at B rows/partition);
    the 4096-row weight table broadcasts back onto the per-gram stream, so
    scoring shuffles once, keyed on doc_id, with map-side partial sums;
    top-k is TakeOrderedAndProject (per-partition heaps, no global sort).
    Two corpus scans total — DSIR is two-pass by nature."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang", "source",
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    # slice(ws, 1, 0) = typed empty array<string>: keeps concat well-typed
    # for single-token docs (bare array() would infer array<null>)
    grams = d.select(
        "doc_id", "lang", "source",
        F.explode(F.expr(
            "concat(ws, CASE WHEN size(ws) >= 2 THEN "
            "transform(sequence(0, size(ws)-2), "
            "i -> concat(ws[i], ' ', ws[i+1])) "
            "ELSE slice(ws, 1, 0) END)")).alias("g"))
    h = F.md5(F.col("g"))

    def _hx(i: int):
        return F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1

    feats = grams.select(
        "doc_id", "lang", "source",
        (_hx(1) * 256 + _hx(2) * 16 + _hx(3)).cast("int").alias("b"))
    stats = feats.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
         .cast("double").alias("ct"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
         .cast("double").alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    lam = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        (F.log((F.col("ct") + 0.5) / (F.col("nt") + 2048.0))
         - F.log((F.col("cr") + 0.5) / (F.col("nr") + 2048.0))).alias("lam"))
    scored = (
        feats.filter(F.col("lang") != "en")
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_feats"),
             F.round(F.sum("lam"), 6).alias("dsir_score"))
    )
    return scored.orderBy(
        F.col("dsir_score").desc(), F.col("doc_id").asc()).limit(50)


def ngram_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM quality scoring (Wenzek et al. 2020,
    arXiv:1911.00359 — there a KenLM model; here the LM is trained
    IN-ENGINE): fit an add-0.5-smoothed word-bigram model on the target
    slice (lang='en'), then score every document's bigrams under it and
    report the per-doc average negative log-likelihood and pseudo-perplexity
    exp(nll). Low ppl ≈ fluent/target-like; the standard quality-bucketing
    signal that needs no external model artifact.

    Scale: the bigram/unigram count tables are vocab-sized — NOT broadcast;
    scoring joins key on the gram itself (shuffle ∝ gram stream, map-side
    partial sums on doc_id afterwards). LEFT joins + COALESCE(0) give
    unseen grams the smoothing floor, so OOV text scores finite-but-high.
    The only scalar (vocab size V) rides a 1-row broadcast."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang",
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    bi = d.filter(F.size("ws") >= 2).select(
        "doc_id", "lang",
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS w1, "
            "ws[i+1] AS w2))")).alias("g"),
    ).select("doc_id", "lang", F.col("g.w1").alias("w1"),
             F.col("g.w2").alias("w2"))
    tgt = bi.filter(F.col("lang") == "en")
    # one pass over the target gram stream: the unigram table and vocab
    # size derive from the pinned bigram count table (Σ over w2 /
    # countDistinct w2 — bit-identical counts), never re-scanning docs
    c2 = tgt.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c2")
    ).localCheckpoint(eager=False)
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = c2.agg(
        F.countDistinct("w2").cast("double").alias("v"))
    scored = (
        bi.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id", "lang",
            (-F.log((F.coalesce(F.col("c2"), F.lit(0.0)) + 0.5)
                    / (F.coalesce(F.col("c1"), F.lit(0.0))
                       + 0.5 * F.col("v")))).alias("nll"))
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
             F.round(F.avg("nll"), 6).alias("avg_nll"),
             F.round(F.exp(F.avg("nll")), 4).alias("ppl"))
    )
    return scored


def moore_lewis_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis cross-entropy-difference data selection (Moore & Lewis
    2010, "Intelligent Selection of Language Model Training Data"): score
    every document under an IN-DOMAIN LM (here the lang='en' slice) and a
    GENERAL LM (the whole corpus), keep documents where
    H_in(doc) - H_gen(doc) < 0 — text that looks more like the target
    domain than like the pool average. Both LMs are the engine's
    add-0.5-smoothed word-bigram models (ngram_lm_quality_score's
    estimator), trained in-engine — no external artifacts.

    Scale: ONE gram stream feeds both models — a single (w1, w2)-keyed
    aggregate counts general and in-domain occurrences side by side, the
    unigram tables and both vocab sizes then derive from that (much
    smaller) bigram count table, never re-scanning the stream; two
    count-table LEFT joins keyed on the gram (shuffle ∝ gram stream), one
    1-row vocab broadcast, per-doc rollup with map-side partials."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang",
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    bi = d.filter(F.size("ws") >= 2).select(
        "doc_id", "lang",
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS w1, "
            "ws[i+1] AS w2))")).alias("g"),
    ).select("doc_id", "lang", F.col("g.w1").alias("w1"),
             F.col("g.w2").alias("w2"))

    # one pass over the gram stream builds BOTH models' bigram tables
    # (in-domain count = conditional count inside the same buffers); the
    # pin stops the c1/v/scored-join consumers re-running the corpus
    # explode+shuffle. A w1-seen-only-in-general row carries c2_in = 0.0
    # exactly where the old per-model LEFT joins produced NULL→coalesce 0.
    c2 = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c2_gen"),
        F.count(F.when(F.col("lang") == "en", F.lit(1)))
        .cast("double").alias("c2_in"),
    ).localCheckpoint(eager=False)
    c1 = c2.groupBy("w1").agg(
        F.sum("c2_gen").alias("c1_gen"),
        F.sum("c2_in").alias("c1_in"))
    v = c2.agg(
        F.countDistinct("w2").cast("double").alias("v_gen"),
        F.countDistinct(F.when(F.col("c2_in") > 0, F.col("w2")))
        .cast("double").alias("v_in"))

    def nll(tag):
        return -F.log(
            (F.coalesce(F.col(f"c2_{tag}"), F.lit(0.0)) + 0.5)
            / (F.coalesce(F.col(f"c1_{tag}"), F.lit(0.0))
               + 0.5 * F.col(f"v_{tag}")))

    scored = (
        bi.join(c2, ["w1", "w2"], "left").join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", nll("in").alias("nll_in"),
                nll("gen").alias("nll_gen"))
        .groupBy("doc_id")
        .agg(F.round(F.avg("nll_in") - F.avg("nll_gen"), 6).alias("ce_diff"))
    )
    return scored.select(
        "doc_id", "ce_diff",
        (F.col("ce_diff") < 0).cast("bigint").alias("keep_flag"),
    )


#: data-constrained planning knobs: budget = 7/2 × corpus tokens, ≤4
#: epochs of any single source (diminishing returns past ~4 repeats,
#: Muennighoff et al. 2023, "Scaling Data-Constrained Language Models")
_REPEAT_BUDGET_NUM, _REPEAT_BUDGET_DEN = 7, 2
_REPEAT_CAP = 4


def epoch_repetition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained repetition planning (Muennighoff et al. 2023,
    public): given a total training-token budget larger than the corpus
    (here 3.5×) and an EQUAL-WEIGHT per-source mixture target, allocate
    each source min(target, 4 × available) tokens — repeating data at
    most 4 epochs, past which returns decay — and report the repeat
    factor, the cap flag, and the unmet allocation a mixture designer
    must redistribute or shrink the run by.

    Plan (100 TB): per-source available tokens is ONE scan with map-side
    partial sums (source-keyed, dimension-sized result); the budget is a
    1-row aggregate broadcast back via crossJoin; everything after the
    scan is arithmetic on a #sources-row frame. Integer-only allocation
    (the budget is a 7/2 rational, epoch cap an integer multiply) →
    bit-exact pairing; only the repeat factor is a round-6 double."""
    docs = _docs(spark, sf_dir)
    avail = (
        docs.select("source", X.token_count("text").alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("available_tokens"))
    )
    totals = avail.agg(
        F.sum("available_tokens").cast("bigint").alias("corpus_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    planned = avail.crossJoin(F.broadcast(totals)).withColumn(
        # integer-exact: 64-bit div, no double round-trip
        "target_tokens",
        F.expr(f"(corpus_tokens * {_REPEAT_BUDGET_NUM}) "
               f"div {_REPEAT_BUDGET_DEN} div n_sources"),
    )
    target = F.col("target_tokens")
    allocated = F.least(target, F.col("available_tokens") * _REPEAT_CAP)
    return (
        planned.select(
            "source", "available_tokens", "target_tokens",
            allocated.cast("bigint").alias("allocated_tokens"),
            F.round(allocated.cast("double")
                    / F.col("available_tokens").cast("double"), 6)
            .alias("repeat_factor"),
            (allocated < target).alias("capped"),
            (target - allocated).cast("bigint").alias("unmet_tokens"),
        )
        .orderBy("source")
    )


def unimax_language_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget-constrained language sampling (Chung et al. 2023,
    "UniMax: Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining", ICLR): given a token budget B (0.9 of the
    corpus) and a per-language epoch cap E (=1), allocate by WATER-FILLING
    — every language gets min(E·n_l, τ) where the level τ satisfies
    Σ min(E·n_l, τ) = B. Small languages are taken whole (never repeated
    past E epochs); the oversized head is trimmed to the common level —
    UniMax's fairness property vs temperature sampling's head bias.

    The τ scan runs on the per-language table — language count is
    metadata-sized, so the bounded collect is the honest shape (the
    selection itself stays distributed: md5-ordered greedy prefix per
    language under a lang-partitioned cumulative window, the same
    deterministic fill as temperature_mix_sample)."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("toks"))
    per_lang = sorted(
        d.groupBy("lang").agg(F.sum("toks").alias("n")).collect(),
        key=lambda r: (float(r["n"]), r["lang"]),
    )
    total = float(sum(r["n"] for r in per_lang))
    budget, epochs = 0.9 * total, 1.0
    caps = [(r["lang"], epochs * float(r["n"])) for r in per_lang]
    from dbt_spark.functions.sketches import water_fill

    quotas = water_fill(caps, budget)
    from pyspark.sql import Window

    qmap = F.create_map(*[F.lit(x) for kv in quotas.items() for x in kv])
    h = F.md5(F.col("doc_id").cast("string"))
    w = (Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    picked = (
        d.withColumn("cum", F.sum("toks").over(w))
        .where(F.col("cum") <= qmap[F.col("lang")])
    )
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens_selected"),
    )


def pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top within-document co-occurring term pairs by pointwise mutual
    information (Church & Hanks 1990): PMI(a,b) = ln(N·c(a,b)/(c(a)·c(b)))
    over document-level presence counts, min co-occurrence 5, top 50 pairs
    (ties broken lexically). The standard collocation/phrase-mining signal
    for corpus analysis.

    Scale: presence sets are doc-distinct tokens (one hash aggregate);
    the pair stream is a within-doc self-join a<b — quadratic in DISTINCT
    TOKENS PER DOC, not corpus size, and real vocabularies cap it via a
    min-df prefilter (here the synthetic ~30-word vocab needs none —
    docstring knob df_min). Counts join back keyed on the token; the
    final top-k is a TakeOrderedAndProject, never a global sort."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.split(F.trim(F.lower("text")), r"\s+"))).alias("t"),
    ).filter(F.col("t") != "")
    n_docs = docs.count()
    cnt = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    a, b = toks.alias("a"), toks.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.t") < F.col("b.t")))
        .groupBy(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= 5)
    )
    ca = cnt.select(F.col("t").alias("ta"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("t").alias("tb"), F.col("c").alias("cb"))
    scored = (
        pairs.join(ca, "ta").join(cb, "tb")
        .select(
            "ta", "tb", F.col("cab").cast("bigint").alias("cab"),
            F.round(F.log(F.lit(float(n_docs)) * F.col("cab")
                          / (F.col("ca") * F.col("cb"))), 6).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("ta").asc(), F.col("tb").asc()
    ).limit(50)


_KN_TABLES: dict = {}


def _kn_gram_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Shared KN training artifacts — the trigram/bigram TYPE tables plus
    continuation counts, trained once per (session, corpus) and reused by
    both KN variants (the `_trained_centroids` amortization pattern:
    model-artifact work is ingest-time at scale, not per-query)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _KN_TABLES:
        return _KN_TABLES[key]
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang",
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    tri_en = d.filter((F.size("ws") >= 3) & (F.col("lang") == "en")).select(
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-3), i -> struct(ws[i] AS w1, "
            "ws[i+1] AS w2, ws[i+2] AS w3))")).alias("g"),
    ).select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"),
             F.col("g.w3").alias("w3"))
    bi_en = d.filter((F.size("ws") >= 2) & (F.col("lang") == "en")).select(
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS a, "
            "ws[i+1] AS b))")).alias("g"),
    ).select(F.col("g.a").alias("a"), F.col("g.b").alias("b"))
    c3 = tri_en.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("double").alias("c3")
    ).localCheckpoint(eager=False)
    c2b = bi_en.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("c2b")
    ).localCheckpoint(eager=False)
    cont = c2b.groupBy("b").agg(
        F.count(F.lit(1)).cast("double").alias("cont"))
    scal = cont.agg(
        F.sum("cont").alias("ncc"),
        F.count(F.lit(1)).cast("double").alias("vc"))
    _KN_TABLES[key] = {"c3": c3, "c2b": c2b, "cont": cont, "scal": scal}
    return _KN_TABLES[key]


def kneser_ney_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney trigram LM quality scoring (Chen & Goodman
    1998 smoothing — the method KenLM implements and CCNet/Wenzek 2020
    consume; trained IN-ENGINE on the lang='en' slice, fixed discount
    D=0.75). Per-doc average NLL + pseudo-perplexity over trigrams:

        P3(w3|w1w2) = (max(c3-D,0) + D*n3f(w1w2)*P2(w3|w2)) / c2ctx(w1w2)
        P2(w3|w2)   = (max(c2-D,0) + D*n2f(w2)*Pc(w3)) / c1ctx(w2)
        Pc(w3)      = (N1+(.w3) + 0.5) / (N1+(..) + 0.5*(Vc+1))

    with full backoff to the lower order when a context is unseen and an
    additive-floored continuation unigram so OOV tokens score finite
    (KenLM's <unk> analog).

    Scale: c3/c2b (the gram TYPE tables) are the only stream-cardinality
    aggregates, localCheckpointed because 2-3 consumers each derive from
    them; every other KN table DERIVES at type cardinality (n3f = rows of
    c3 per context, continuation counts = rows of c2b per suffix —
    Kneser-Ney's N1+ counts are exactly type-table row counts, so no
    countDistinct/Expand anywhere). The exploded streams themselves are
    NOT checkpointed — re-running the codegen explode is cheaper than
    serializing the stream. Scoring LEFT-joins key on the gram; count
    tables AQE-broadcast under sane vocab sizes, else the joins shuffle
    ∝ trigram stream."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang",
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    tri = d.filter(F.size("ws") >= 3).select(
        "doc_id", "lang",
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-3), i -> struct(ws[i] AS w1, "
            "ws[i+1] AS w2, ws[i+2] AS w3))")).alias("g"),
    ).select("doc_id", "lang", F.col("g.w1").alias("w1"),
             F.col("g.w2").alias("w2"), F.col("g.w3").alias("w3"))
    t = _kn_gram_tables(spark, sf_dir)
    c3, c2b, cont, scal = t["c3"], t["c2b"], t["cont"], t["scal"]
    # every other KN table derives at TYPE cardinality: context totals are
    # sums, N1+ counts are type-table row counts
    ctx3 = c3.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2ctx"),
        F.count(F.lit(1)).cast("double").alias("n3f"))
    ctx2 = c2b.groupBy("a").agg(
        F.sum("c2b").alias("c1ctx"),
        F.count(F.lit(1)).cast("double").alias("n2f"))
    dd = F.lit(0.75)
    pc = (F.coalesce(F.col("cont"), F.lit(0.0)) + 0.5) / (
        F.col("ncc") + 0.5 * (F.col("vc") + 1.0))
    p2 = F.when(
        F.coalesce(F.col("c1ctx"), F.lit(0.0)) > 0.0,
        (F.greatest(F.coalesce(F.col("c2b"), F.lit(0.0)) - dd, F.lit(0.0))
         + dd * F.col("n2f") * pc) / F.col("c1ctx"),
    ).otherwise(pc)
    p3 = F.when(
        F.coalesce(F.col("c2ctx"), F.lit(0.0)) > 0.0,
        (F.greatest(F.coalesce(F.col("c3"), F.lit(0.0)) - dd, F.lit(0.0))
         + dd * F.col("n3f") * p2) / F.col("c2ctx"),
    ).otherwise(p2)
    return (
        tri.join(c3, ["w1", "w2", "w3"], "left")
        .join(ctx3, ["w1", "w2"], "left")
        .join(c2b, (F.col("w2") == F.col("a")) & (F.col("w3") == F.col("b")),
              "left").drop("a", "b")
        .join(ctx2.withColumnRenamed("a", "w2"), ["w2"], "left")
        .join(cont.withColumnRenamed("b", "w3"), ["w3"], "left")
        .crossJoin(F.broadcast(scal))
        .select("doc_id", "lang", (-F.log(p3)).alias("nll"))
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
             F.round(F.avg("nll"), 6).alias("avg_nll"),
             F.round(F.exp(F.avg("nll")), 4).alias("ppl"))
    )


def kneser_ney_mod_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODIFIED Kneser-Ney trigram LM scoring (Chen & Goodman 1999 §3 — the
    three-discount variant KenLM estimates by default): per order, discounts
    D1/D2/D3+ derive from the counts-of-counts

        Y = N1/(N1+2*N2); D1 = 1-2Y*N2/N1; D2 = 2-3Y*N3/N2; D3+ = 3-4Y*N4/N3

    each clamped to >= 0 and guarded against empty count classes (fallback
    to the fixed 0.75 of the plain interpolated variant); the interpolation
    weight is the context's full discount mass

        gamma(ctx) = (D1*n1(ctx) + D2*n2(ctx) + D3+*n3p(ctx)) / c(ctx)

    with n_k(ctx) = #types in ctx seen exactly k (3+ pooled) times. Same
    backoff chain and floored continuation unigram as
    kneser_ney_quality_score.

    Scale: identical plan family — the per-context count-class table is ONE
    conditional-sum aggregate over the type table (no countDistinct), the
    counts-of-counts are 1-row broadcasts."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang",
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    tri = d.filter(F.size("ws") >= 3).select(
        "doc_id", "lang",
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-3), i -> struct(ws[i] AS w1, "
            "ws[i+1] AS w2, ws[i+2] AS w3))")).alias("g"),
    ).select("doc_id", "lang", F.col("g.w1").alias("w1"),
             F.col("g.w2").alias("w2"), F.col("g.w3").alias("w3"))
    t = _kn_gram_tables(spark, sf_dir)
    c3, c2b = t["c3"], t["c2b"]

    def _klass(cnt):
        return [
            F.sum(F.when(F.col(cnt) == 1.0, 1.0).otherwise(0.0)).alias("k1"),
            F.sum(F.when(F.col(cnt) == 2.0, 1.0).otherwise(0.0)).alias("k2"),
            F.sum(F.when(F.col(cnt) >= 3.0, 1.0).otherwise(0.0)).alias("k3p"),
            F.sum(cnt).alias("ctot"),
        ]

    ctx3 = c3.groupBy("w1", "w2").agg(*_klass("c3"))
    ctx2 = c2b.groupBy("a").agg(*_klass("c2b"))

    def _discounts(types, cnt, p):
        """1-row frame with d1/d2/d3 from global counts-of-counts. An
        ill-formed solution (any count class empty, or any discount <= 0 —
        zero discount mass would leave unseen extensions with p=0) falls
        back WHOLESALE to (0.5, 1.0, 1.5), KenLM's --discount_fallback
        convention."""
        cc = types.agg(
            F.sum(F.when(F.col(cnt) == 1.0, 1.0).otherwise(0.0)).alias("n1"),
            F.sum(F.when(F.col(cnt) == 2.0, 1.0).otherwise(0.0)).alias("n2"),
            F.sum(F.when(F.col(cnt) == 3.0, 1.0).otherwise(0.0)).alias("n3"),
            F.sum(F.when(F.col(cnt) == 4.0, 1.0).otherwise(0.0)).alias("n4"),
        )
        ok_counts = ((F.col("n1") > 0) & (F.col("n2") > 0)
                     & (F.col("n3") > 0) & (F.col("n4") > 0))
        # divisions only under the count guard (lazy CASE branches — safe
        # under ANSI mode too)
        y = F.col("n1") / (F.col("n1") + 2.0 * F.col("n2"))
        d1 = F.when(ok_counts,
                    F.lit(1.0) - 2.0 * y * F.col("n2") / F.col("n1"))
        d2 = F.when(ok_counts,
                    F.lit(2.0) - 3.0 * y * F.col("n3") / F.col("n2"))
        d3 = F.when(ok_counts,
                    F.lit(3.0) - 4.0 * y * F.col("n4") / F.col("n3"))
        ok = ok_counts & (d1 > 0) & (d2 > 0) & (d3 > 0)
        return cc.select(
            F.when(ok, d1).otherwise(0.5).alias(f"{p}d1"),
            F.when(ok, d2).otherwise(1.0).alias(f"{p}d2"),
            F.when(ok, d3).otherwise(1.5).alias(f"{p}d3"),
        )

    disc3 = _discounts(c3, "c3", "t")
    disc2 = _discounts(c2b, "c2b", "b")
    cont, scal = t["cont"], t["scal"]

    def _dsel(c, d1, d2, d3):
        return (F.when(c >= 3.0, d3).when(c == 2.0, d2).otherwise(d1))

    pc = (F.coalesce(F.col("cont"), F.lit(0.0)) + 0.5) / (
        F.col("ncc") + 0.5 * (F.col("vc") + 1.0))
    c2v = F.coalesce(F.col("c2b"), F.lit(0.0))
    gamma2 = (F.col("bd1") * F.col("bk1") + F.col("bd2") * F.col("bk2")
              + F.col("bd3") * F.col("bk3p")) / F.col("bctot")
    p2 = F.when(
        F.coalesce(F.col("bctot"), F.lit(0.0)) > 0.0,
        F.greatest(c2v - _dsel(c2v, F.col("bd1"), F.col("bd2"), F.col("bd3")),
                   F.lit(0.0)) / F.col("bctot") + gamma2 * pc,
    ).otherwise(pc)
    c3v = F.coalesce(F.col("c3"), F.lit(0.0))
    gamma3 = (F.col("td1") * F.col("tk1") + F.col("td2") * F.col("tk2")
              + F.col("td3") * F.col("tk3p")) / F.col("tctot")
    p3 = F.when(
        F.coalesce(F.col("tctot"), F.lit(0.0)) > 0.0,
        F.greatest(c3v - _dsel(c3v, F.col("td1"), F.col("td2"), F.col("td3")),
                   F.lit(0.0)) / F.col("tctot") + gamma3 * p2,
    ).otherwise(p2)
    ctx3r = ctx3.select(
        "w1", "w2", F.col("k1").alias("tk1"), F.col("k2").alias("tk2"),
        F.col("k3p").alias("tk3p"), F.col("ctot").alias("tctot"))
    ctx2r = ctx2.select(
        F.col("a").alias("w2"), F.col("k1").alias("bk1"),
        F.col("k2").alias("bk2"), F.col("k3p").alias("bk3p"),
        F.col("ctot").alias("bctot"))
    return (
        tri.join(c3, ["w1", "w2", "w3"], "left")
        .join(ctx3r, ["w1", "w2"], "left")
        .join(c2b, (F.col("w2") == F.col("a")) & (F.col("w3") == F.col("b")),
              "left").drop("a", "b")
        .join(ctx2r, ["w2"], "left")
        .join(cont.withColumnRenamed("b", "w3"), ["w3"], "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(disc3))
        .crossJoin(F.broadcast(disc2))
        .select("doc_id", "lang", (-F.log(p3)).alias("nll"))
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
             F.round(F.avg("nll"), 6).alias("avg_nll"),
             F.round(F.exp(F.avg("nll")), 4).alias("ppl"))
    )


_QUALITY_LR: dict = {}


def _quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words featurization shared by train and score: fixed
    2^15-dim HashingTF (stateless hashing — no vocabulary build, so the
    featurizer itself needs no training artifact)."""
    from pyspark.ml.feature import HashingTF

    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.array_contains(toks, "vector").cast("double").alias("label"),
        # deterministic split: first md5 nibble of doc_id, 12/16 train
        (F.instr(F.lit("0123456789abcdef"),
                 F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) - 1)
        .alias("bucket"),
    )
    tf = HashingTF(inputCol="toks", outputCol="features",
                   numFeatures=32768, binary=True)
    return tf.transform(base)


def _trained_quality_lr(spark: SparkSession, sf_dir: str):
    """Session-scoped fitted-classifier cache (the `_trained_centroids`
    amortization contract): the 30-iteration LBFGS fit is a MODEL artifact
    — trained once per (session, corpus), then every query batch pays only
    the broadcast-coefficients scoring map pass. Mirrors production, where
    the quality model is trained offline and shipped to the scorer."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _QUALITY_LR:
        from pyspark.ml.classification import LogisticRegression

        from dbt_spark.session import _input_bytes

        # LBFGS runs ~25-30 treeAggregate passes: with the docs scan spread
        # over every core the tiny train set sits in 32 near-empty
        # partitions and each pass pays 32 task launches (measured 15.3 s
        # -> 3.1 s at sf0.1). Size the partition count from the input
        # volume (same ~32 MB/partition policy as stream_conf), floor 4.
        nparts = min(
            spark.sparkContext.defaultParallelism,
            max(4, _input_bytes(
                os.path.join(sf_dir, "documents.parquet")) // (32 << 20) + 1),
        )
        train = (_quality_features(spark, sf_dir)
                 .filter(F.col("bucket") < 12).coalesce(int(nparts)))
        lr = LogisticRegression(
            maxIter=30, regParam=0.0, standardization=False,
            featuresCol="features", labelCol="label")
        _QUALITY_LR[key] = lr.fit(train)
    return _QUALITY_LR[key]


def warm_quality_classifier(spark: SparkSession, sf_dir: str) -> dict:
    """Force-fit the quality classifier — the amortized train-time work.
    bench.py times this ONCE as `quality_classifier_train` so the
    registered query's bench entry measures the scoring pass alone."""
    t0 = time.time()
    _trained_quality_lr(spark, sf_dir)
    return {"train_sec": round(time.time() - t0, 3)}


def quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine linear quality classifier (the CCNet/GPT-3 'looks like the
    target corpus' filter, Wenzek 2020 / Brown 2020 Appendix A — there a
    fastText model; here hashed bag-of-words + logistic regression trained
    with Spark MLlib, all JVM-side): deterministic md5 train/holdout split,
    fit on the train buckets, score EVERY doc, emit keep decisions.

    The training label here is a planted separable target (docs whose token
    set contains 'vector') because the synthetic corpus's lang/source
    metadata is, by construction, independent of the text — a real corpus
    would pass `label` as wiki-vs-crawl membership. Separability makes the
    query EXACTLY oracle-pairable: a correctly-trained model's decisions
    equal the label rule itself, so the DuckDB twin recomputes the rule from
    raw text and the value hash must match; the in-query RAISE fails loudly
    (instead of hash-drifting) if training regresses below perfect.

    Scale: HashingTF (fixed 2^15 dims, stateless hashing — no vocab build)
    and LogisticRegression run as Spark jobs: LBFGS treeAggregate gradient
    passes, coefficients broadcast for the scoring map pass, nothing
    driver-side but the 2^15-dim weight vector. The fit is session-cached
    (`_trained_quality_lr`, the ANN-codebook amortization pattern) — the
    per-query cost is the scoring map pass + the accuracy raise-check; at
    100 TB the standard play is train-on-sample, score-everything."""
    feats = _quality_features(spark, sf_dir)
    model = _trained_quality_lr(spark, sf_dir)
    scored = model.transform(feats)
    acc = scored.select(
        F.avg((F.col("prediction") == F.col("label")).cast("double"))
        .alias("acc")).collect()[0]["acc"]
    if acc is None or acc < 1.0:
        raise AssertionError(
            f"quality_classifier_linear: accuracy {acc} < 1.0 on a "
            "separable target — train/score plumbing broken")
    return scored.select(
        "doc_id",
        F.col("label").cast("bigint").alias("is_target"),
        F.col("prediction").cast("bigint").alias("keep_flag"),
    )


def ppl_bucket_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek 2020 §4.3): per language, rank
    documents by LM pseudo-perplexity and cut into terciles — head = most
    target-like third, the slice CCNet keeps for LM pretraining. Reuses the
    in-engine bigram scorer, then one ntile(3) window per language.

    Scale: scorer cost (gram-keyed joins) + ONE window partitioned by lang
    ordered by ppl — the window shuffles on lang, so heavily-skewed language
    mixes should pre-split by (lang, ppl-range); tercile boundaries per
    partition are exact."""
    from pyspark.sql import Window

    scored = ngram_lm_quality_score(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.col("ppl").asc(),
                                           F.col("doc_id").asc())
    bucket = F.ntile(3).over(w)
    return scored.select(
        "doc_id", "lang", "ppl",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), bucket
        ).alias("ppl_bucket"),
    )


@scratch_query
def export_sharded_jsonl(spark: SparkSession, sf_dir: str,
                         scratch: Scratch) -> DataFrame:
    """Training-shard EXPORT with write-back verification: docs assigned to
    16 deterministic shards (first md5 nibble of doc_id — the same portable
    hash the shuffle op uses), physically written as one JSONL file per
    shard (repartition on the shard key → per-shard files), then READ BACK
    from the written files to report per-shard stats. The returned numbers
    therefore prove the export round-trip, not just the plan; the oracle
    recomputes the same stats from the source table directly.

    Scale: one repartition(shard) shuffle, one write, one read of the
    written shards. At 100 TB add maxRecordsPerFile for intra-shard file
    splits; shard count scales as hex digits (16^k)."""
    docs = _docs(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    d = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        (F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1)
        .cast("int").alias("shard"),
    )
    out_dir = scratch.output
    (
        d.repartition(16, "shard")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(out_dir)
    )
    back = spark.read.json(out_dir)
    return (
        back.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic per language: OLS slope of log(freq) on
    log(rank) over the top-200 vocabulary (natural corpora sit near -1;
    synthetic/duplicated corpora drift toward 0 — a standard
    corpus-health check). regr_slope is the closed-form aggregate in both
    engines, so the fit is exactly oracle-paired.

    Scale: one token aggregate (shuffle ∝ vocab), one rank window
    partitioned BY LANGUAGE (never a global unpartitioned sort), then a
    per-lang 200-row regression aggregate."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    freq = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("double").alias("freq"))
    rank_w = Window.partitionBy("lang").orderBy(
        F.col("freq").desc(), F.col("w").asc())
    ranked = freq.select(
        "lang", "freq", F.row_number().over(rank_w).alias("rank")
    ).filter(F.col("rank") <= 200)
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.round(
                F.expr("regr_slope(ln(freq), ln(rank))"), 6
            ).alias("zipf_slope"),
        )
    )


def source_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection per source: two-sample
    Kolmogorov-Smirnov distance between each source's doc-length
    distribution and the whole corpus — KS = max_t |CDF_src(t) - CDF_all(t)|
    over the (capped) length spine. The standard ingest-gate for "this
    source changed shape" monitoring.

    Scale: CDFs are built by a theta-join against the DISTINCT length
    spine (bounded by the 200-bucket cap — broadcastable by construction),
    NOT by a single-partition cumulative window; per-source aggregates
    shuffle on source. Everything is integer counts divided once at the
    end — exactly oracle-paired."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "source",
        F.least(F.size(F.split(F.trim(F.col("text")), r"\s+")), F.lit(200))
        .cast("bigint").alias("b"),
    )
    src_counts = d.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("double").alias("c"))
    tot_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("tot"))
    glob_counts = d.groupBy("b").agg(
        F.count(F.lit(1)).cast("double").alias("g"))
    total = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    spine = d.select("b").distinct().withColumnRenamed("b", "t")
    src_cdf_raw = (
        src_counts.join(F.broadcast(spine), F.col("b") <= F.col("t"))
        .groupBy("source", "t").agg(F.sum("c").alias("cum_c"))
    )
    # full (source x spine) grid: t below a source's min length has
    # CDF_src = 0, where |0 - CDF_all| may be the KS max
    grid = tot_src.select("source").crossJoin(F.broadcast(spine))
    src_cdf = grid.join(src_cdf_raw, ["source", "t"], "left").select(
        "source", "t", F.coalesce(F.col("cum_c"), F.lit(0.0)).alias("cum_c"))
    glob_cdf = (
        glob_counts.join(F.broadcast(spine), F.col("b") <= F.col("t"))
        .groupBy("t").agg(F.sum("g").alias("cum_g"))
    )
    return (
        src_cdf.join(glob_cdf, ["t"])
        .join(tot_src, ["source"])
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.max("tot").cast("bigint").alias("n_docs"),
            F.round(
                F.max(F.abs(F.col("cum_c") / F.col("tot")
                            - F.col("cum_g") / F.col("n"))), 6
            ).alias("ks_distance"),
        )
    )


def corpus_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: shard = first hex
    digit of md5(doc_id) (16-way; 2 digits → 256-way at scale), position =
    md5 order within the shard. Reproducible across reruns and engines — no
    rand(), and crucially NO global sort: sharding is a pure map-side hash
    and the within-shard window parallelizes across shards."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    d = docs.select(
        "doc_id",
        h.alias("h"),
        (F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1)
        .cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return d.select(
        "doc_id", "shard", F.row_number().over(w).alias("shard_pos")
    )


def exact_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span REMOVAL (the rewrite half of Lee 2021
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — ExactSubstr marks spans; this REMOVES them, the
    RefinedWeb/FineWeb boilerplate-scrub analog at aligned-chunk
    granularity): an 8-token chunk occurring in >= 2 distinct documents is
    cut from EVERY document; the survivor text is rebuilt order-preserving
    and emitted as md5 + counts — the shape a downstream materialization
    persists.

    Scale: one chunk explode, per-hash distinct-doc counts as row counts
    over a (hash, doc) projection (no countDistinct/Expand), a left_anti
    against the dup set (AQE-broadcastable: dup chunks only), one per-doc
    array_sort reconstruction — shuffles ∝ chunk stream keyed on hash then
    doc_id, no all-pairs anything."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 1)
    chunks = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("ws") - 1) / 8).cast("int"))
        ).alias("ci"),
        "ws",
    ).select(
        "doc_id", "ci",
        F.array_join(F.slice("ws", F.col("ci") * 8 + 1, F.lit(8)), " ")
        .alias("chunk"),
    ).withColumn("h", F.md5(F.col("chunk")))
    cand = chunks.select("h", "doc_id").distinct()
    dup = cand.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_docs")).filter(F.col("n_docs") >= 2)
    kept = chunks.join(dup.select("h"), "h", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(ci, chunk))), "
                   "s -> s.chunk)"),
        ).alias("new_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    # chunk count per doc is closed-form from the token count (doc_id is
    # unique in documents) — the third full chunk-explode pass this frame
    # used to run is pure recompute
    totals = d.select(
        "doc_id",
        (F.floor((F.size("ws") - 1) / 8) + 1).cast("bigint")
        .alias("n_chunks"))
    return (
        totals.join(rebuilt, ["doc_id"], "left")
        .select(
            "doc_id", "n_chunks",
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint").alias("n_removed"),
            F.md5(F.coalesce(F.col("new_text"), F.lit(""))).alias("text_md5"),
        )
    )


def dup_chunk_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-content fraction (the Gopher 'duplicate
    content' signal at chunk granularity): split docs into 8-token chunks,
    mark a chunk duplicated when its md5 occurs in ≥2 distinct docs, report
    each doc's duplicated-chunk fraction.

    Scale: two shuffles, both keyed on chunk_md5 — the per-key
    distinct-doc count aggregate and the join back (AQE reuses the same
    partitioning), then a per-doc map-side-partial agg. No all-pairs
    anything: cost ∝ chunks, not docs²."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 1)
    chunks = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("ws") - 1) / 8).cast("int"))
        ).alias("ci"),
        "ws",
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice("ws", F.col("ci") * 8 + 1, F.lit(8)), " "))
        .alias("chunk_md5"),
    )
    dup_keys = chunks.groupBy("chunk_md5").agg(
        (F.countDistinct("doc_id") > 1).cast("int").alias("is_dup")
    )
    return (
        chunks.join(dup_keys, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("is_dup").cast("bigint").alias("n_dup_chunks"),
        )
        .select(
            "doc_id", "n_chunks", "n_dup_chunks",
            (F.col("n_dup_chunks").cast("double")
             / F.col("n_chunks").cast("double")).alias("dup_frac"),
        )
    )


def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching stats: docs grouped into power-of-two token
    buckets with per-bucket padding waste (bucket_len × docs − real tokens)
    — the accounting behind dynamic batching / bucketed padding in training
    dataloaders. A fixed CASE ladder (not float log2) keeps the bucket edges
    bit-identical across engines.

    Scale: one scan, codegen'd token count, one tiny aggregate keyed on
    bucket (≤8 groups)."""
    docs = _docs(spark, sf_dir)
    n = X.token_count("text")
    bucket = (
        F.when(n <= 8, 8).when(n <= 16, 16).when(n <= 32, 32)
        .when(n <= 64, 64).when(n <= 128, 128).when(n <= 256, 256)
        .when(n <= 512, 512).otherwise(1024)
    ).cast("bigint")
    return (
        docs.select(bucket.alias("bucket_len"), n.alias("n_tokens"))
        .groupBy("bucket_len")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.first("bucket_len") * F.count("*") - F.sum("n_tokens"))
            .cast("bigint").alias("padding_waste"),
        )
        .orderBy("bucket_len")
    )


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: global token frequencies, top 50 by
    (count desc, token asc) — the tokenizer-training / corpus-profiling
    primitive (wordcount at 100 TB).

    Scale: explode is map-side; the frequency aggregate is combiner-friendly
    (map-side partial count collapses each partition's repeats before the
    exchange carries one row per distinct token per partition); top-k is a
    TakeOrdered, no global sort materialized."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    ).filter(F.length("token") > 0)
    return (
        toks.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


def decontam_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate contamination flags via cross-corpus MinHash LSH
    (functions/dedup.py crosscorpus_lsh_contaminated): corpus docs sharing
    an LSH band bucket with the benchmark set (every 97th doc). Engine-hash
    based → rows-only check; the EXACT companion for the same notion is
    decontam_ngram_overlap (oracle-paired). Planted-leak recall is
    pytest-proven (tests/test_llmops.py)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return (
        D.crosscorpus_lsh_contaminated(
            corpus, benchmark, "text", "doc_id", num_perm=16, bands=8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-level decontamination (the GPT-3 appendix-C approach, public):
    flag training docs sharing any 3-gram with the benchmark set (every 97th
    doc), reporting how many distinct 3-grams overlap. (The published method
    uses 13-grams; the synthetic corpus's ~30-word vocabulary needs n=3 for a
    non-degenerate overlap set — the plan is n-independent.)

    Scale: benchmark n-grams are distinct-reduced then BROADCAST; the corpus
    side streams through a map-side hash semi-join — the 100 TB corpus never
    shuffles, only its per-doc overlap counts do (tiny)."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 3)
    grams = d.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-3), "
            "i -> concat_ws(' ', slice(ws, i+1, 3)))"
        )).alias("g"),
    )
    bench = (grams.filter(F.col("doc_id") % 97 == 0)
             .select("g").distinct())
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "g", "inner")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").cast("bigint").alias("n_overlap"))
    )


_LANG_SCORES = ", ".join(
    f"CAST(len(list_filter({_TOKS_L}, t -> list_contains(['"
    + "', '".join(words)
    + f"'], t))) AS BIGINT) AS s_{lang}"
    for lang, words in X.LANG_MARKERS.items()
)


def dedup_cc_star_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a CHAIN-shaped duplicate graph via the
    alternating large-star/small-star algorithm (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — value-paired: edges
    link CONSECUTIVE doc_ids within each exact-dedup-key group (the
    (lang, n_chars) key dedup_exact uses; a lag window partitioned by the
    key), so the component structure is closed-form (min doc_id per
    duplicated key) while the algorithm must do genuine multi-hop work —
    no single edge connects a member to its component min.

    Scale: min-label propagation (dedup_minhash_cc) needs O(diameter)
    rounds — a 10k-doc duplicate chain = 10k shuffles; large/small-star
    halves star heights per alternation and converges in O(log n) rounds
    on any topology. Each half-round is one hash aggregate + one join;
    convergence is a one-row edge-set fingerprint (count + bit_xor of
    per-edge hashes), never a full comparison."""
    from pyspark.sql import Window

    from dbt_spark.functions.dedup import connected_components_star

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang", "n_chars").orderBy("doc_id")
    chain = docs.select(
        "doc_id", F.lag("doc_id").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    edges = chain.select(
        F.col("prev").alias("src"), F.col("doc_id").alias("dst")
    )
    comps = connected_components_star(edges)
    return comps.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered n-gram decontamination — decontam_ngram_overlap's
    exact semantics (per training doc, distinct 3-grams shared with the
    benchmark) with the production at-scale shape in front: an m-bit Bloom
    filter (Bloom 1970) built over benchmark grams probes the corpus gram
    stream MAP-SIDE (codegen'd element_at + shift against a words-array
    literal — functions/sketches.py), so non-colliding grams die in the
    scan stage without ever shuffling; the surviving sliver then takes the
    exact broadcast join, which removes Bloom false positives. Output is
    therefore EXACT and value-paired with the naive restatement.

    Scale: this is what Spark's own runtime filters (BloomFilterAggregate)
    do for joins, applied explicitly: at 100 TB the corpus side's shuffle
    volume drops to the true-overlap rate + FP rate (~0 at m/n = 64 bits
    per gram), while the broadcast set stays benchmark-sized."""
    from dbt_spark.functions.sketches import bloom_build, bloom_might_contain

    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 3)
    grams = d.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-3), "
            "i -> concat_ws(' ', slice(ws, i+1, 3)))"
        )).alias("g"),
    )
    # pin the benchmark gram set: bloom_build's collect materializes it,
    # and the exact broadcast join then reuses the pinned rows instead of
    # re-running the doc-slice explode+distinct a second time
    bench = (grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
             .localCheckpoint(eager=False))
    words = bloom_build(bench, "g")
    pre = grams.filter(F.col("doc_id") % 97 != 0).filter(
        bloom_might_contain(words, "g")
    )
    return (
        pre.join(F.broadcast(bench), "g", "inner")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").cast("bigint").alias("n_overlap"))
    )


def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus tokens with frequency > N/k (k=100) via the
    bounded-memory two-pass shape (functions/sketches.py): per-partition
    Misra-Gries candidate summaries (Misra & Gries 1982; mergeable-summary
    framing Agarwal 2012) in one Arrow-batched mapInPandas, then exact
    verification counting ONLY the broadcast candidate set.

    The reference engine has no training-data operators; this is a
    first-class pipeline op of this engine.

    Scale: a vocabulary-wide groupBy over 100 TB of text spills its hash
    table (billions of distinct tokens); here the candidate pass holds ≤
    k counters per partition, the verify pass's aggregate holds ≤
    k × partitions keys, and the threshold result is EXACT and partition-
    independent (pigeonhole: a global heavy hitter beats its local n_p/k
    share somewhere, so MG summaries union to a candidate superset)."""
    from dbt_spark.functions.sketches import heavy_hitters_threshold

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters_threshold(toks, "token", k=100).select(
        "token", F.col("cnt").cast("bigint").alias("cnt")
    )


def dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution: md5(text) clusters ->
    (cluster_size, n_clusters, n_docs). The dedup REPORTING step every
    curation run ships next to the dedup itself (how much of the corpus is
    singleton vs. heavy-duplicate mass).

    Scale: two hash aggregates, each with map-side partials; the second
    groups the (already tiny) per-cluster counts. No windows, no joins."""
    docs = _docs(spark, sf_dir)
    clusters = docs.groupBy(F.md5(F.col("text")).alias("fp")).agg(
        F.count("*").cast("bigint").alias("sz"))
    return (
        clusters.groupBy(F.col("sz").alias("cluster_size"))
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size", "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint").alias("n_docs"),
        )
    )


def per_lang_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length profile (count/min/max/mean/median/p90)
    — the mixing-decision table for multilingual training data.

    Scale: one aggregate keyed on lang. Exact percentiles sort only WITHIN
    the aggregation buffers of ~tens of language groups; at extreme
    cardinalities swap median/percentile for approx_percentile (same
    shape). Mean/median/p90 are rounded: interpolation association differs
    across engines at 1 ulp."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6)
         .alias("mean_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction for data mixing /
    topic tagging). Score = tf * N / df — a single exact-int product and one
    correctly-rounded division, so the ranking is bit-deterministic across
    engines (no transcendental idf).

    Scale: token explode -> (doc, term) count (one shuffle), term df (one
    aggregate over the much smaller tf table), score join keyed on term, and
    a per-doc top-n window. The df side is zipf-skewed — AQE skew-join
    handles the head terms; N arrives via a broadcast 1-row aggregate, not a
    driver collect. tf is lazily localCheckpoint'ed — it feeds BOTH join
    sides, so without persistence the token explode + count runs twice;
    one materialization (~ the distinct (doc, term) pairs) halves the
    wall clock (measured 1.7 -> 0.7 s at sf0.1), exactly the persist-the-
    fan-out-point rule at 100 TB."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"))
    tf = toks.groupBy("doc_id", "t").agg(
        F.count("*").cast("bigint").alias("tf")
    ).localCheckpoint(eager=False)
    dfreq = tf.groupBy("t").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.agg(F.count("*").cast("bigint").alias("n"))
    scored = (
        tf.join(dfreq, "t")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round((F.col("tf") * F.col("n")).cast("double") / F.col("df"), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("t").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("t").alias("term"), "tfidf", "rnk")
    )


def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novel-trigram contribution: of a doc's distinct 3-grams,
    the fraction whose FIRST corpus occurrence (min doc_id) is this doc —
    the marginal-novelty signal used to order/weight near-redundant corpora.

    Scale: trigrams built map-side (transform lambda, no window), one
    aggregate on gram for first-occurrence, one distinct + join back keyed
    on gram, one per-doc rollup. All shuffles key on gram or doc_id;
    nothing quadratic."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 3)
    grams = d.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(ws)-3), "
            "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"
        )).alias("g"),
    ).distinct()
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = grams.join(firsts, "g").groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
         .cast("bigint").alias("n_novel"),
    )
    return per_doc.select(
        "doc_id", "n_grams", "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_grams"))
        .alias("novelty_rate"),
    )



def per_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: docs, distinct fingerprints, dup rate —
    the per-domain/per-crawl dedup dashboard row that decides which sources
    get re-crawled vs down-weighted.

    Scale: the plain count and the distinct-count run as SEPARATE aggregates
    joined on source (mixing them in one agg forces Spark's Expand row
    replication); each exchange ships one (source[, fp]) partial per
    partition, never documents, and the join input is |sources|."""
    docs = _docs(spark, sf_dir)
    f = docs.select("source", F.md5(F.col("text")).alias("fp"))
    n = f.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    u = f.groupBy("source").agg(
        F.countDistinct("fp").cast("bigint").alias("n_unique"))
    return n.join(F.broadcast(u), "source").select(
        "source", "n_docs", "n_unique",
        ((F.col("n_docs") - F.col("n_unique")).cast("double")
         / F.col("n_docs")).alias("dup_rate"),
    )


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup measurement (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 — the
    suffix-array ExactSubstr method): find every K-token span that appears
    verbatim in >= 2 DISTINCT documents, and report, per document, how many
    token positions are covered by at least one such cross-document
    duplicated span (the positions ExactSubstr would cut). K=8 here (the
    paper uses 50 BPE tokens; the synthetic corpus is short-doc).

    The reference engine has no training-data operators; this is a
    first-class pipeline op of this engine.

    Scale: a single-node suffix array is sequential, so the default
    Spark-first shape is the shingle inverted index below (the TRUE
    distributed suffix array also exists in this engine —
    functions/suffix.py prefix doubling, exercised by suffix_repeat_stats):
    ONE explode (token volume × K bounded),
    one gram-keyed aggregate (map-side partial count-distinct, shuffle ∝
    distinct grams), one keyed join back (AQE broadcasts the dup-gram set
    while it fits), then a per-(doc, position) dedup. At 100 TB the gram
    key would be xxhash64 (64-bit, collision-negligible) instead of the
    raw string carried here for exact oracle comparability."""
    k = 8
    docs = _docs(spark, sf_dir)
    base = (docs
            .select("doc_id", F.split(F.trim("text"), r"\s+").alias("ws"))
            .where(F.size("ws") >= k))
    g = base.selectExpr(
        "doc_id",
        f"posexplode(transform(sequence(1, size(ws) - {k - 1}), "
        f"i -> concat_ws(' ', slice(ws, i, {k})))) AS (off, gram)")
    dup = (g.groupBy("gram")
           .agg(F.countDistinct("doc_id").alias("df"))
           .where(F.col("df") >= 2)
           .select("gram"))
    covered = (g.join(dup, "gram")
               .selectExpr("doc_id",
                           f"explode(sequence(off + 1, off + {k})) AS pos")
               .distinct())
    per_doc = covered.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup_tokens"))
    return (base.select("doc_id", F.size("ws").cast("bigint")
                        .alias("n_tokens"))
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id", "n_tokens",
                F.coalesce("n_dup_tokens", F.lit(0)).cast("bigint")
                .alias("n_dup_tokens"),
                F.round(F.coalesce("n_dup_tokens", F.lit(0)).cast("double")
                        / F.col("n_tokens"), 6).alias("dup_ratio"),
            ))


def suffix_repeat_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus repeated-substring statistics via a DISTRIBUTED SUFFIX ARRAY
    (prefix doubling, Manber & Myers 1990 / Flick & Aluru SC'15) — the real
    data structure behind Lee 2021 ExactSubstr dedup (arXiv:2107.06499),
    not the shingle approximation: per document, the longest substring
    (capped at 256 chars) shared verbatim with any other position in the
    corpus, and how many of its positions start a ≥50-char shared span.

    The reference engine has no training-data operators; this is a
    first-class pipeline op of this engine.

    Scale (functions/suffix.py): a 16-char-granule seeded rank table +
    log2(256/16)=4 doubling rounds; per-round traffic is longs-only
    equi-joins and rank-partitioned windows over the still-tied subset
    (shrinks geometrically); LCP by binary lifting over the same rank
    tables. No unpartitioned window, no driver collect beyond one row per
    partition, shuffle rows are fixed-width — the construction the paper
    runs single-node is here a bounded number of joins at any corpus size."""
    from dbt_spark.functions.suffix import suffix_repeat_lengths

    docs = _docs(spark, sf_dir)
    reps = suffix_repeat_lengths(docs.select("doc_id", "text"))
    per_doc = reps.groupBy("doc_id").agg(
        F.max("rep").alias("mr"),
        F.sum((F.col("rep") >= 50).cast("bigint")).alias("nr"),
    )
    return (
        docs.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("mr"), F.lit(0)).cast("bigint").alias("max_rep"),
            F.coalesce(F.col("nr"), F.lit(0)).cast("bigint").alias("n_rep50"),
        )
    )


def suffix_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee 2021 ExactSubstr REMOVAL on the TRUE distributed suffix array
    (functions/suffix.py; the chunk-based approximation is
    exact_substring_remove): every position whose suffix shares a ≥50-char
    prefix with any other corpus position starts a duplicated span
    [pos, pos+rep); the union of spans is cut per document and the
    survivor text rebuilt order-preserving. Value-paired: the DuckDB twin
    recomputes per-position repeat lengths from sorted truncated suffixes
    and rebuilds identically (md5-pinned).

    Runs on the doc_id<120 slice to bound sweep cost — the plan is
    slice-size-free. Scale: the span union is a gaps-and-islands interval
    merge at SPAN granularity (the r12 decontam_exact_substring_cover
    shape — work ∝ duplicated spans, never per-character rows), and the
    rebuild cuts each doc's survivor text with one substring fold over
    its merged-interval array — one pass over the doc text, no char
    explode, no char-level anti-join or re-sort."""
    from pyspark.sql import Window

    from dbt_spark.functions.suffix import suffix_repeat_lengths

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 120).select(
        "doc_id", "text")
    reps = suffix_repeat_lengths(docs)
    starts = reps.filter(F.col("rep") >= 50).select(
        "doc_id", "pos", (F.col("pos") + F.col("rep") - 1).alias("end"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    isl = starts.withColumn(
        "new_isl",
        F.when(prev_max.isNull() | (F.col("pos") > prev_max), 1)
        .otherwise(0),
    ).withColumn(
        "isl", F.sum("new_isl").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    merged = isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("s"), F.max("end").alias("e"))
    iv = merged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs"))
    # fold the sorted disjoint intervals: emit the gap before each span,
    # then flush the tail after the last span (substring with len <= 0 is
    # '' — zero-width gaps and spans past end-of-text are no-ops, exactly
    # the old char-level anti-join semantics)
    cut = (
        "aggregate(ivs, struct(1 as nxt, '' as acc), "
        "(st, iv) -> struct(cast(iv.e + 1 as int) as nxt, "
        "concat(st.acc, substring(text, st.nxt, cast(iv.s as int) - st.nxt"
        ")) as acc), "
        "st -> concat(st.acc, "
        "substring(text, st.nxt, length(text) - st.nxt + 1)))"
    )
    return docs.join(iv, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("ivs").isNull(), F.coalesce("text", F.lit("")))
        .otherwise(F.expr(cut)).alias("new_text"),
    ).select(
        "doc_id",
        F.md5("new_text").alias("text_md5"),
        F.length("new_text").cast("bigint").alias("new_len"),
    )


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained curation: per source, rank documents by a
    quality key (type-token ratio desc, doc_id asc) and keep documents
    while the running token total stays within 60% of that source's token
    mass — the "best docs under a token budget" selection every
    mixture-building pipeline runs per domain.

    Scale: a naive per-source ordered cumulative sum is ONE sequential
    window task per source (sources are few → giant skewed partitions at
    100 TB). This compiles the scalable two-phase shape instead:
    (1) histogram pass — docs bucket by quantized quality, per-(source,
    bucket) token sums aggregate map-side into a |sources|×|buckets| table;
    (2) the tiny bucket table takes the cumulative window (driver-scale),
    picking each source's boundary bucket; (3) only BOUNDARY-bucket
    documents (≈1/|buckets| of the data) are window-ordered to spend the
    remaining budget. Whole buckets above the boundary are accepted with no
    per-document ordering at all."""
    nbuck = 1000
    docs = _docs(spark, sf_dir)
    base = (docs
            .select("source", "doc_id",
                    F.split(F.trim("text"), r"\s+").alias("ws"))
            .select("source", "doc_id",
                    F.size("ws").cast("long").alias("toks"),
                    (F.size(F.array_distinct("ws")).cast("double")
                     / F.size("ws")).alias("q"))
            .withColumn("bucket",
                        F.floor(F.col("q") * nbuck).cast("long"))
            # pinned: the tokenize/TTR pass feeds totals, the bucket
            # histogram AND the boundary-bucket pick — 3 passes unpinned;
            # the pinned frame is 5 narrow columns per doc, not text
            .localCheckpoint(eager=False))
    from pyspark.sql import Window

    totals = base.groupBy("source").agg(
        (F.sum("toks") * 0.6).alias("budget"))
    bstats = base.groupBy("source", "bucket").agg(
        F.sum("toks").alias("b_toks"), F.count("*").alias("b_docs"))
    wb = (Window.partitionBy("source")
          .orderBy(F.desc("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (bstats.join(F.broadcast(totals), "source")
           .withColumn("cum", F.sum("b_toks").over(wb))
           .withColumn("prev", F.col("cum") - F.col("b_toks")))
    # buckets fully inside the budget; the first bucket crossing it is the
    # boundary (prev < budget <= cum)
    full = cum.where(F.col("cum") <= F.col("budget")).groupBy("source").agg(
        F.sum("b_docs").alias("n_full"), F.sum("b_toks").alias("t_full"))
    boundary = cum.where((F.col("prev") < F.col("budget"))
                         & (F.col("cum") > F.col("budget"))).select(
        F.col("source").alias("b_source"),
        F.col("bucket").alias("b_bucket"),
        (F.col("budget") - F.col("prev")).alias("remaining"))
    wd = (Window.partitionBy("source")
          .orderBy(F.desc("q"), F.asc("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    picked = (base.join(F.broadcast(boundary),
                        (F.col("source") == F.col("b_source"))
                        & (F.col("bucket") == F.col("b_bucket")))
              .withColumn("dcum", F.sum("toks").over(wd))
              .where(F.col("dcum") <= F.col("remaining"))
              .groupBy("source").agg(
                  F.count("*").alias("n_bnd"), F.sum("toks").alias("t_bnd")))
    return (totals
            .join(full, "source", "left")
            .join(picked, "source", "left")
            .select(
                "source",
                F.round("budget", 6).alias("budget"),
                (F.coalesce("n_full", F.lit(0))
                 + F.coalesce("n_bnd", F.lit(0))).cast("bigint")
                .alias("n_selected"),
                (F.coalesce("t_full", F.lit(0))
                 + F.coalesce("t_bnd", F.lit(0))).cast("bigint")
                .alias("tokens_selected"),
            ))


@scratch_query
def jsonl_ingest_quarantine(spark: SparkSession, sf_dir: str,
                            scratch: Scratch) -> DataFrame:
    """Malformed-record quarantine ingestion — the first stage of every
    real crawl pipeline: read JSONL with an explicit schema in PERMISSIVE
    mode, route unparseable lines to a quarantine column instead of
    failing the job, and report the split. The landing file is built
    deterministically from documents (docs with doc_id % 17 == 3 get their
    JSON line truncated mid-object), so the oracle recomputes every count
    closed-form.

    Scale: PERMISSIVE + columnNameOfCorruptRecord is a per-task decision —
    no driver involvement, no retries; quarantined raw lines stay in the
    same scan (one pass) and the summary is a single map-side-combinable
    aggregate. Spark caveat handled here: a query referencing ONLY the
    corrupt-record column is disallowed (the parser would need a second
    pass), so the aggregate touches data columns alongside it."""
    docs = _docs_raw(spark, sf_dir).select("doc_id", "source", "n_chars")
    # the result reads these files, so not ``scratch.landing`` (removed
    # when the query returns)
    landing = scratch.path("jsonl")
    lines = docs.selectExpr(
        "doc_id",
        "to_json(struct(doc_id, source, n_chars)) AS line"
    ).selectExpr(
        "CASE WHEN doc_id % 17 = 3 "
        "THEN concat(substring(line, 1, CAST(length(line) / 2 AS INT)), '{') "
        "ELSE line END AS value")
    lines.coalesce(1).write.mode("overwrite").text(landing)
    parsed = (spark.read
              .schema("doc_id long, source string, n_chars long, "
                      "_corrupt string")
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", "_corrupt")
              .json(landing))
    return parsed.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).cast("bigint")
        .alias("n_valid"),
        F.count(F.col("_corrupt")).cast("bigint").alias("n_quarantined"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("doc_id")))
        .cast("bigint").alias("valid_docid_sum"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("n_chars")))
        .cast("bigint").alias("valid_chars"),
    )


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — IVF coarse quantizer × PQ codes (Jégou et al. 2011 §IV,
    functions/similarity.py:ivfpq_topk, the FAISS billion-scale default):
    probes scan ~nprobe/n_centroids of the corpus reading 8-byte codes,
    then re-rank a shortlist exactly. RAISES below 0.6 recall@5 vs exact-L2
    brute force, like ann_topk_pq (the isotropic test embeddings are the
    quantizer worst case — clustered data clears 0.9 in the planted test).
    All three index artifacts (centroids, codebooks, cell-tagged code
    table) ride the session caches — per-query work is the probed ADC
    scan + shortlist re-rank, matching a production deployment where
    train/encode runs once at ingest."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)
    pred = (F.col("vec_id") >= 100) & (F.col("vec_id") < 108)
    n, dim = _emb_meta(spark, sf_dir)
    out = S.ivfpq_topk(
        emb, pred, k=5, n_centroids=8, nprobe=4, m=8, n_codes=16,
        centroids=_trained_centroids(spark, sf_dir),
        codebooks=_trained_codebooks(spark, sf_dir),
        codes=_ivfpq_idx(spark, sf_dir),
        rerank=max(64, n // 8), subdim=dim // 8, m_count=8)
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["qid"], set()).add(r["nid"])
    q = emb.filter(pred).selectExpr("vec_id AS qid", "embedding AS qv")
    c = emb.selectExpr("vec_id AS nid", "embedding AS nv")
    scored = (F.broadcast(q).crossJoin(c)
              .filter(F.col("qid") != F.col("nid"))
              .withColumn("d2", S._l2sq("qv", "nv")))
    w = W.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid"))
    truth: dict = {}
    for r in (scored.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= 5).collect()):
        truth.setdefault(r["qid"], set()).add(r["nid"])
    hits = sum(len(got.get(qid, set()) & t) for qid, t in truth.items())
    recall = hits / max(1, sum(len(t) for t in truth.values()))
    if recall < 0.6:
        raise RuntimeError(
            f"IVFADC recall@5 {recall:.3f} < 0.6 vs brute force")
    return out.orderBy("qid", "rank")


def bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE tokenizer induction (Sennrich et al. 2016 —
    functions/text.py:bpe_learn_merges): the top-12 byte-pair merges of the
    documents corpus, learned entirely as DataFrame aggregates over the
    word-type histogram (one corpus scan, then vocabulary-sized rounds).
    Iterative with per-round argmax → not single-statement SQL-expressible
    (rows-only); the merge SEQUENCE is pinned exactly against a pure-Python
    reference implementation in tests/test_llmops.py."""
    from dbt_spark.functions.text import bpe_learn_merges

    merges = bpe_learn_merges(_docs(spark, sf_dir), k_merges=12)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long")


def unigram_tokenizer_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine unigram-LM tokenizer training (Kudo 2018, the
    SentencePiece unigram algorithm; functions/text.py:unigram_train) in
    its deterministic hard-EM variant: substring-seeded vocabulary from
    the word-type histogram (one corpus scan), then Viterbi E-step /
    count-re-estimate M-step / prune rounds with the bounded vocabulary
    broadcast into Arrow-batched segmentation kernels. Iterative with
    per-round vocabulary-bounded collects → not single-statement
    SQL-expressible (rows-only); the full ranked vocabulary is pinned
    exactly against an independent pure-Python reference in
    tests/test_llmops.py."""
    from dbt_spark.functions.text import unigram_train

    vocab = unigram_train(_docs(spark, sf_dir), vocab_size=40,
                          seed_size=150, n_iters=2)
    return spark.createDataFrame(
        vocab, "rank long, piece string, cnt long")


_UNIGRAM_VOCAB: dict = {}


def _trained_unigram(spark: SparkSession, sf_dir: str) -> list:
    """Session-scoped trained-vocabulary cache (tokenizers are model
    artifacts like IVF centroids: train once per corpus, apply per
    batch)."""
    from dbt_spark.functions.text import unigram_train

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _UNIGRAM_VOCAB:
        _UNIGRAM_VOCAB[key] = unigram_train(
            _docs(spark, sf_dir), vocab_size=40, seed_size=150, n_iters=2)
    return _UNIGRAM_VOCAB[key]


def token_count_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-cost accounting with the TRAINED unigram vocabulary
    (functions/text.py:unigram_segment_counts): per-doc Viterbi piece
    counts under the corpus's own learned tokenizer — the budget signal
    packing/selection stages consume. Vocabulary rides the session cache
    (a model artifact); the apply pass is one shuffle-free Arrow-batched
    scan. Segmentation is non-SQL (DP) → rows-only; per-doc counts are
    pinned against the reference segmenter in tests."""
    from dbt_spark.functions.text import unigram_segment_counts

    vocab = _trained_unigram(spark, sf_dir)
    return unigram_segment_counts(_docs(spark, sf_dir), vocab)


def multimodal_image_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-header round-trip (functions/multimodal.py — pure-bytes
    parsers for PNG IHDR / JPEG SOFn / GIF LSD / BMP BITMAPINFOHEADER, no
    codec library): every doc gets a genuine minimal container file (format
    keyed by doc_id % 4, dims a closed-form function of doc_id), which the
    Arrow-batched header parser reads back — the metadata-at-ingest pass a
    media pipeline runs before deciding what to decode. Unlike the pixel
    decode stub, both sides here are real implementations of the published
    container formats; the oracle recomputes the dims closed-form.

    Scale: two chained mapInPandas stages (build → parse), each holding one
    Arrow batch of blobs per task; blobs never pass through the driver."""
    from dbt_spark.functions.multimodal import (_make_header_builders,
                                                image_header_meta)

    builders = _make_header_builders()  # by-value picklable (closure-local)

    def gen(it):
        import pandas as _pd

        b_png, b_jpeg, b_gif, b_bmp, _ = builders
        mk = [b_png, b_jpeg, b_gif, b_bmp]
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({
                "doc_id": ids,
                "payload": [
                    mk[d % 4](16 + (d * 7) % 2048, 16 + (d * 13) % 1152)
                    for d in ids],
            })

    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(
        gen, schema="doc_id long, payload binary")
    return image_header_meta(blobs).select(
        "doc_id", "media_format", "width", "height")


def multimodal_wav_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE header round-trip: genuine minimal WAV files (fmt +
    data chunks; channels/sample-rate/length closed-form in doc_id) parsed
    back by the pure-bytes chunk walker — channels, sample rate, bit depth,
    and duration derived from the data-chunk length. The parser was
    cross-checked against Python's stdlib ``wave`` module in unit tests;
    the oracle recomputes every field closed-form."""
    from dbt_spark.functions.multimodal import (_make_header_builders,
                                                wav_header_meta)

    builders = _make_header_builders()

    def gen(it):
        import pandas as _pd

        build_wav = builders[4]
        rates = [8000, 16000, 44100]
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({
                "doc_id": ids,
                "payload": [
                    build_wav(1 + d % 2, rates[d % 3], 16, 100 + d % 400)
                    for d in ids],
            })

    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return wav_header_meta(blobs)


def _pixel_blob_gen(builders):
    """Genuine PNG (even doc_id; every 4th Adam7-INTERLACED) / BMP (odd;
    every 4th top-down) files with closed-form dims and per-channel pixel
    values — shared by the pixel decode/resize queries so their oracles
    agree on one formula: w = 4 + (7d)%13, h = 4 + (11d)%9,
    R = (d + 7r + 13c)%256, G = (2d + 5r + 11c)%256, B = (3d + 3r + 17c)%256.
    """
    def gen(it):
        import pandas as _pd

        enc_png, enc_bmp = builders

        def build(d):
            w, h = 4 + (7 * d) % 13, 4 + (11 * d) % 9

            def pix(r, c):
                return ((d + 7 * r + 13 * c) % 256,
                        (2 * d + 5 * r + 11 * c) % 256,
                        (3 * d + 3 * r + 17 * c) % 256)

            if d % 2 == 0:
                return enc_png(w, h, pix, interlace=(d % 4 == 2))
            return enc_bmp(w, h, pix, top_down=(d % 4 == 1))

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({"doc_id": ids,
                                 "payload": [build(d) for d in ids]})

    return gen


# the closed-form pixel grid as DuckDB SQL, shared by the pixel oracles
_PX_CTE = """
    dims AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
               4 + (7 * doc_id) % 13 AS w,
               4 + (11 * doc_id) % 9 AS h
        FROM documents
    ),
    rws AS (SELECT doc_id, fmt, w, h,
                   unnest(generate_series(0, h - 1)) AS r FROM dims),
    px AS (SELECT doc_id, fmt, w, h, r,
                  unnest(generate_series(0, w - 1)) AS c FROM rws)
"""


def multimodal_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode round-trip: every doc gets a genuine PNG (zlib
    IDAT, all five scanline filters in rotation, valid CRCs) or 24-bit BMP
    (bottom-up AND top-down variants, padded rows), which the stdlib-only
    decoder (functions/multimodal.py `_make_pixel_codecs`) inflates,
    unfilters, and reads back; per-channel sums + a position-weighted red
    sum pin VALUES and ORIENTATION against the closed-form oracle. This
    retires the former decode stub — both sides are real codecs now.

    Scale: two chained mapInPandas stages (encode → decode), one Arrow
    batch of blobs per task, nothing through the driver; production swaps
    libpng into the same kernel shape."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                decode_pixel_stats)

    codecs = _make_pixel_codecs()
    gen = _pixel_blob_gen((codecs[0], codecs[2]))
    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return decode_pixel_stats(blobs)


def multimodal_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL thumbnail pipeline: genuine PNG/BMP blobs → real decode →
    nearest-neighbor resample to 8×6 → re-encode as PNG; the resized
    image's channel sums are value-pinned against the oracle's integer NN
    mapping (src = (r*h//6, c*w//8)). The binary output column is dropped
    here (sums pin it); `tests/test_multimodal_codecs.py` proves the
    emitted blobs decode as valid PNGs."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                resize_images_real)

    codecs = _make_pixel_codecs()
    gen = _pixel_blob_gen((codecs[0], codecs[2]))
    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return resize_images_real(blobs, out_w=8, out_h=6).select(
        "doc_id", "width", "height", "red_sum", "green_sum", "blue_sum")


def _wav_pcm_gen(builders):
    """Genuine PCM16 WAV files: channels = 1 + d%2, rate by d%3, frames =
    50 + d%101, interleaved sample i = ((31d + 17i)%65536) - 32768."""
    def gen(it):
        import pandas as _pd

        (encode_wav,) = builders
        rates = [8000, 16000, 44100]

        def build(d):
            ch = 1 + d % 2
            n = (50 + d % 101) * ch
            return encode_wav(ch, rates[d % 3],
                              [((31 * d + 17 * i) % 65536) - 32768
                               for i in range(n)])

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({"doc_id": ids,
                                 "payload": [build(d) for d in ids]})

    return gen


def multimodal_wav_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM16 decode round-trip: genuine RIFF/WAVE files (int16
    samples closed-form in doc_id) decoded back by the stdlib codec —
    per-clip sample sum/min/max value-pinned against the oracle. The
    signal-level triage pass after the header scan."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                decode_pcm_stats)

    codecs = _make_pixel_codecs()
    gen = _wav_pcm_gen((codecs[6],))
    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return decode_pcm_stats(blobs)


def multimodal_pcm_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio framing: decode PCM16 then fan each clip out to 64-sample
    windows with Σ|s| per window — the VAD/fingerprinting framing step,
    1→N over genuine WAV bytes, value-pinned per window."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                pcm_window_energy)

    codecs = _make_pixel_codecs()
    gen = _wav_pcm_gen((codecs[6],))
    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return pcm_window_energy(blobs, window=64)


def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF round-trip — full LZW both ways (round 8 retires the GIF
    stub; JPEG's DCT remains the only codec-bound one): every doc gets a
    genuine GIF89a (true variable-width LZW compression with code growth,
    global 256-color table p[i] = (i, 2i%256, 3i%256), every 2nd doc
    INTERLACED), which the pure-stdlib decoder (sub-block reassembly, LZW
    with the cScSc case and deferred clears, interlace reordering)
    rasterizes back; channel sums + the position-weighted red sum pin
    values and row order against the closed-form oracle.

    Scale: same shuffle-free chained mapInPandas profile as the other
    codec queries."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                decode_pixel_stats)

    codecs = _make_pixel_codecs()
    enc_gif = codecs[8]

    def gen(it):
        import pandas as _pd

        pal = [(i, (2 * i) % 256, (3 * i) % 256) for i in range(256)]

        def build(d):
            w, h = 4 + (7 * d) % 13, 4 + (11 * d) % 9
            return enc_gif(
                w, h, lambda r, c: (d + 7 * r + 13 * c) % 256, pal,
                interlace=(d % 2 == 1))

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({"doc_id": ids,
                                 "payload": [build(d) for d in ids]})

    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return decode_pixel_stats(blobs)


def multimodal_g711_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 companding round-trip (ITU-T G.711 — the telephony
    codec 8 kHz speech corpora arrive in): PCM16 samples closed-form in
    doc_id are companded to 8-bit μ-law (even docs, WAV format tag 7) or
    A-law (odd docs, tag 6), then expanded back to linear PCM16 by the
    decoder. decode(encode(s)) is a bit-exact integer function (segment
    by magnitude range, mantissa by shift), so the oracle reproduces the
    companded values CLOSED-FORM in SQL — the whole lossy codec is
    value-pinned, not tolerance-checked."""
    from dbt_spark.functions.multimodal import _make_pixel_codecs

    codecs = _make_pixel_codecs()
    enc_g711, dec_g711 = codecs[12], codecs[13]

    def gen(it):
        import pandas as _pd

        def build(d):
            n = 80 + d % 120
            return enc_g711(
                1, 8000,
                [((31 * d + 17 * i) % 65536) - 32768 for i in range(n)],
                law="ulaw" if d % 2 == 0 else "alaw")

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({"doc_id": ids,
                                 "payload": [build(d) for d in ids]})

    def stats(it):
        import pandas as _pd

        for pdf in it:
            out = {k: [] for k in ("doc_id", "n_samples", "dec_sum",
                                   "dec_min", "dec_max")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                _ch, _sr, dec = dec_g711(blob)
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(len(dec))
                out["dec_sum"].append(sum(dec))
                out["dec_min"].append(min(dec))
                out["dec_max"].append(max(dec))
            yield _pd.DataFrame(out)

    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        stats, schema="doc_id long, n_samples long, dec_sum long, "
                      "dec_min long, dec_max long")


def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG round-trip — the LAST codec stub retired (round
    8): every doc gets a genuine grayscale baseline JPEG (full entropy
    pipeline: orthonormal DCT, quantization, zigzag, DC prediction,
    run-length AC symbols, per-image optimal Huffman tables in DHT,
    0xFF byte stuffing) built from constant 8×8 tiles whose values are
    closed-form in doc_id — constant tiles survive DCT→quantize→IDCT
    BIT-EXACTLY (only the DC coefficient is nonzero, an exact multiple
    of 8 at quant=1), so the decoder's channel sums and position-weighted
    sum are value-pinned, not tolerance-checked. Non-baseline variants
    (progressive, chroma, restart markers) raise named
    NotImplementedError in the decoder; arbitrary-content images
    round-trip within ±1 gray level (pytest-asserted).

    Scale: same shuffle-free chained mapInPandas profile; numpy does the
    per-block 8×8 matrix DCTs."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                decode_pixel_stats)

    codecs = _make_pixel_codecs()
    enc_jpeg = codecs[10]

    def gen(it):
        import numpy as _np
        import pandas as _pd

        def build(d):
            w = 8 * (2 + (7 * d) % 4)
            h = 8 * (2 + (11 * d) % 3)
            tr = _np.arange(h)[:, None] // 8
            tc = _np.arange(w)[None, :] // 8
            return enc_jpeg(w, h, (d + 7 * tr + 13 * tc) % 256)

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({"doc_id": ids,
                                 "payload": [build(d) for d in ids]})

    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return decode_pixel_stats(blobs)


def multimodal_pcm_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 2:1 audio downsample round-trip: genuine PCM16 WAV files →
    decode → per-channel adjacent-frame floor-mean decimation → re-encode
    at half rate; the output stream's sum/min/max are value-pinned against
    the closed-form oracle (integer floor math reproduces bit-exact in
    SQL). The 16 kHz→8 kHz normalization pass of a speech corpus. The
    emitted half-rate blob is dropped here (stats pin it);
    tests/test_multimodal_codecs.py proves it re-decodes as a valid WAV."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                pcm_decimate_2to1)

    codecs = _make_pixel_codecs()
    gen = _wav_pcm_gen((codecs[6],))
    docs = _docs_raw(spark, sf_dir).select("doc_id")
    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return pcm_decimate_2to1(blobs).select(
        "doc_id", "sample_rate", "n_out_samples", "out_sum", "out_min",
        "out_max")


def html_extract_visible_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL HTML→text extraction round-trip (functions/html_extract.py —
    stdlib html.parser state machine, no third-party dep): every doc's text
    is wrapped into a genuine HTML page (entity-escaped copy split across
    nested divs, plus the boilerplate a crawl carries: head/title, a script
    containing angle brackets and a fake tag inside a string literal,
    style, nav links, comments, footer with NESTED nav), then the
    boilerplate-aware extractor recovers the visible text. The md5 of the
    whitespace-normalized extraction must equal the oracle's md5 of the
    normalized source text — an exact end-to-end pin of tag stripping,
    entity unescaping, drop-subtree nesting, and comment handling.

    Scale: two chained mapInPandas stages (render → extract), no shuffle;
    at 100 TB this is the embarrassingly parallel first pass over a crawl,
    one Arrow batch of pages per task."""
    from dbt_spark.functions.html_extract import (_make_html_tools,
                                                  extract_visible_text)

    tools = _make_html_tools()

    def gen(it):
        import pandas as _pd

        build = tools[1]
        for pdf in it:
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "html": [build(t, int(d)) for d, t in
                         zip(pdf["doc_id"], pdf["text"])],
            })

    docs = _docs_raw(spark, sf_dir).select("doc_id", "text")
    pages = docs.mapInPandas(gen, schema="doc_id long, html string")
    return extract_visible_text(pages)


# --------------------------------------------------------------------------
# image-text pair curation (r13): pre-contrastive-training gates
# --------------------------------------------------------------------------

#: image-content group — pairs with equal doc_id % mod carry pixel-exact
#: duplicate images (the re-hosted / mirrored-image case a crawl plants)
_PAIR_IMG_MOD = 97
#: caption base-doc group: caption text derives from doc (doc_id % mod)
_PAIR_CAP_MOD = 89
_PAIR_MH_PERMS = 6   # portable-md5 minhash permutations (3 bands × 2 rows)

#: closed-form DuckDB twin of the pair fixture's REAL-decode phash chain
#: (gsel -> dims -> cells -> tot -> ph); shared by the batch pair-dedup
#: oracle and the streaming ingest twin so one formula pins both
_PAIR_PHASH_CTE = f"""gsel AS (
            SELECT doc_id, doc_id % {_PAIR_IMG_MOD} AS g FROM documents
        ), dims AS (
            SELECT doc_id, g,
                   4 + (7 * g) % 13 AS w, 4 + (11 * g) % 9 AS h
            FROM gsel
        ), cells AS (
            SELECT doc_id,
                   CAST(i * 4 + j AS INT) AS bit,
                   ((g + 7 * ((i * h) // 4) + 13 * ((j * w) // 4)) % 256
                    + (2 * g + 5 * ((i * h) // 4)
                       + 11 * ((j * w) // 4)) % 256
                    + (3 * g + 3 * ((i * h) // 4)
                       + 17 * ((j * w) // 4)) % 256) AS lum
            FROM dims,
                 UNNEST(generate_series(0, 3)) u(i),
                 UNNEST(generate_series(0, 3)) v(j)
        ), tot AS (
            SELECT doc_id, sum(lum) AS total FROM cells GROUP BY 1
        ), ph AS (
            SELECT c.doc_id,
                   CAST(sum(CASE WHEN 16 * c.lum > t.total
                                 THEN (CAST(1 AS BIGINT) << c.bit)
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM cells c JOIN tot t USING (doc_id) GROUP BY 1
        )"""


def _pair_blob_gen(builders):
    """Image half of the image-text pair fixture: genuine PNG (even group;
    every 4th Adam7-interlaced) / BMP (odd; every 4th top-down) keyed by
    g = doc_id % _PAIR_IMG_MOD — same closed-form pixel grammar as
    ``_pixel_blob_gen`` but keyed on the GROUP, so distinct pairs in one
    group are bit-identical images the dedup gate must catch."""
    def gen(it):
        import pandas as _pd

        enc_png, enc_bmp = builders

        def build(d):
            g = d % _PAIR_IMG_MOD
            w, h = 4 + (7 * g) % 13, 4 + (11 * g) % 9

            def pix(r, c):
                return ((g + 7 * r + 13 * c) % 256,
                        (2 * g + 5 * r + 11 * c) % 256,
                        (3 * g + 3 * r + 17 * c) % 256)

            if g % 2 == 0:
                return enc_png(w, h, pix, interlace=(g % 4 == 2))
            return enc_bmp(w, h, pix, top_down=(g % 4 == 1))

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({"doc_id": ids,
                                 "payload": [build(int(d)) for d in ids]})

    return gen


def multimodal_pair_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text PAIR dedup — the gate a contrastive-training set runs
    before (image, caption) pairs are weighted as independent samples.
    Two keyed gates, unioned:

    - IMAGE gate: genuine PNG/BMP blobs → REAL decode → 16-bit perceptual
      average-hash (functions/multimodal.py::perceptual_phash); pairs
      sharing a phash collapse to the min doc_id.
    - CAPTION gate: portable-md5 MinHash (6 perms, 3 bands × 2 rows) over
      caption word-2-grams; pairs sharing ANY band bucket collapse to the
      min doc_id in that bucket (the LSH keyed-union form of
      functions/dedup.py::minhash_lsh, made hash-portable so DuckDB
      rebuilds the signatures bit-for-bit).

    keep = doc_id == least(image-group min, caption-band min).

    Plan (100 TB): blobs stay inside one mapInPandas chain (encode →
    decode+phash) and never shuffle — only 8-byte phashes and 60-bit
    band keys move; both gates are hash-keyed groupBy/join (map-side
    partials, no all-pairs anywhere); the caption base join broadcasts a
    _PAIR_CAP_MOD-row dimension. The oracle rebuilds the phash from the
    generator's closed pixel form — pairing proves the REAL container
    decode end-to-end, like multimodal_pixel_decode."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                perceptual_phash)

    codecs = _make_pixel_codecs()
    docs = _docs_raw(spark, sf_dir)
    blobs = docs.select("doc_id").mapInPandas(
        _pair_blob_gen((codecs[0], codecs[2])),
        schema="doc_id long, payload binary")
    # pinned: referenced by the img_min aggregate AND the final join —
    # without the checkpoint the real decode chain runs twice
    ph = perceptual_phash(blobs).select("doc_id", "phash").localCheckpoint(
        eager=False)

    # captions: first 15 tokens of the group-base doc's text + a per-pair
    # variant token (near-dup captions with Jaccard just under 1)
    base = docs.select(
        F.col("doc_id").alias("cap_base"), F.col("text").alias("base_text")
    ).filter(F.col("cap_base") < _PAIR_CAP_MOD)
    cap = (
        docs.select("doc_id",
                    (F.col("doc_id") % _PAIR_CAP_MOD).alias("cap_base"))
        .join(F.broadcast(base), "cap_base")
        .select(
            "doc_id",
            F.trim(F.concat_ws(
                " ",
                F.concat_ws(" ", F.slice(
                    F.split(F.trim(F.lower("base_text")), r"\s+"), 1, 15)),
                F.concat(F.lit("x"), (F.col("doc_id") % 3).cast("string")),
            )).alias("caption"),
        )
    )
    toks = F.split(F.col("caption"), r"\s+")
    sh = (
        cap.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(F.transform(
            F.sequence(F.lit(0), F.size("t") - 2),
            lambda i: F.concat_ws(" ", F.element_at("t", i + 1),
                                  F.element_at("t", i + 2)),
        )).alias("s"))
        .distinct()
    )
    perm = sh.select(
        "doc_id", "s",
        F.explode(F.sequence(F.lit(0), F.lit(_PAIR_MH_PERMS - 1))).alias("p"))
    hv = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("p").cast("string"), "s")),
                    1, 15), 16, 10).cast("bigint")
    sig = perm.select("doc_id", "p", hv.alias("hv")).groupBy("doc_id").agg(
        *[F.min(F.when(F.col("p") == i, F.col("hv"))).alias(f"m{i}")
          for i in range(_PAIR_MH_PERMS)])
    bands = sig.select("doc_id", F.explode(F.array(*[
        F.struct(
            F.lit(b).alias("bi"),
            F.md5(F.concat_ws(
                ":", F.col(f"m{2 * b}").cast("string"),
                F.col(f"m{2 * b + 1}").cast("string"))).alias("bh"),
        ) for b in range(_PAIR_MH_PERMS // 2)])).alias("x"),
    ).select("doc_id", "x.bi", "x.bh")
    band_min = bands.groupBy("bi", "bh").agg(F.min("doc_id").alias("mn"))
    cap_min = (
        bands.join(band_min, ["bi", "bh"])
        .groupBy("doc_id").agg(F.min("mn").alias("cap_min"))
    )
    img_min = ph.groupBy("phash").agg(F.min("doc_id").alias("img_min"))
    cm = F.coalesce(F.col("cap_min"), F.col("doc_id"))
    return (
        ph.join(F.broadcast(img_min), "phash")
        .join(cap_min, "doc_id", "left")
        .select(
            "doc_id", "phash",
            F.col("img_min").cast("bigint").alias("img_min"),
            cm.cast("bigint").alias("cap_min"),
            (F.col("doc_id") == F.least(F.col("img_min"), cm)).alias("keep"),
        )
        .orderBy("doc_id")
    )


#: audio-transcript plausibility band (tokens/second on the fixture's
#: millisecond clips; a speech corpus would use ~1-6 tok/s) + the
#: per-pair transcript-length knob
_RATE_MIN = 100.0
_RATE_MAX = 2000.0
_RATE_TOK_MOD = 29


def audio_transcript_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-text pair plausibility gate — the speech analog of the
    caption-alignment audit: a transcript whose token rate against the
    clip's REAL decoded duration falls outside the plausible band is a
    mismatched pair (wrong clip, truncated audio, or hallucinated
    transcript). Duration comes from the genuine RIFF/WAVE container
    through the stdlib PCM16 codec (channels / sample_rate / n_samples —
    never trusted from metadata); rate = tokens · sample_rate / frames.

    Plan (100 TB): one mapInPandas decode chain (blobs never shuffle) +
    one doc-keyed equi-join against the transcript token counts — both
    sides co-keyed on doc_id, no window, no fan-out. The oracle rebuilds
    duration from the closed WAV-generator form, so the pairing pins the
    REAL container decode end-to-end."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                decode_pcm_stats)

    codecs = _make_pixel_codecs()
    gen = _wav_pcm_gen((codecs[6],))
    docs = _docs_raw(spark, sf_dir)
    blobs = docs.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary")
    pcm = decode_pcm_stats(blobs).select(
        "doc_id", "channels", "sample_rate", "n_samples")
    toks = docs.select(
        "doc_id",
        F.least(
            F.size(F.expr(r"filter(split(trim(text), '\\s+'), x -> x != '')")),
            (F.lit(1) + F.col("doc_id") % _RATE_TOK_MOD).cast("int"),
        ).cast("bigint").alias("n_transcript_tokens"),
    )
    frames = (F.col("n_samples") / F.col("channels")).cast("bigint")
    rate = F.round(
        F.col("n_transcript_tokens") * F.col("sample_rate")
        / frames.cast("double"), 6)
    return (
        pcm.join(toks, "doc_id")
        .select(
            "doc_id", "channels", "sample_rate",
            frames.alias("n_frames"), "n_transcript_tokens",
            rate.alias("rate_tok_per_s_r6"),
            ((rate >= _RATE_MIN) & (rate <= _RATE_MAX)).alias("rate_ok"),
        )
        .orderBy("doc_id")
    )


#: hard-negative mining knobs: anchor sampling mod, negatives per anchor,
#: caption-gram document-frequency cap
_NEG_ANCHOR_MOD = 11
_NEG_K = 3
_NEG_DF_CAP = 50


def pair_hard_negative_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining — the batch-construction step
    AFTER pair dedup/alignment: for each anchor pair, the top-k most
    caption-similar pairs from OTHER caption groups (same-group pairs are
    near-positives and excluded). Similarity = shared distinct
    word-2-gram count with a document-frequency cap (grams in >
    _NEG_DF_CAP captions are stopword-like and carry no discriminative
    signal — and uncapped they square the join). Deterministic ranking:
    (shared desc, candidate doc asc), anchor-partitioned row_number.

    Plan (100 TB): one gram-keyed equi-join — 8-byte xxhash64 keys, never
    strings (the DuckDB oracle joins raw grams, so a collision surfaces
    as a value mismatch); per-gram fan-out is bounded by the df cap, so
    candidate volume ≤ |anchor grams| × cap; the ranking window is
    anchor-partitioned (never global). Anchors sample doc_id %
    _NEG_ANCHOR_MOD == 0 — the eval-slice shape; a full mining run drops
    the filter and the plan is unchanged."""
    from pyspark.sql import Window

    docs = _docs_raw(spark, sf_dir)
    base = docs.select(
        F.col("doc_id").alias("cap_base"), F.col("text").alias("base_text")
    ).filter(F.col("cap_base") < _PAIR_CAP_MOD)
    cap = (
        docs.select("doc_id",
                    (F.col("doc_id") % _PAIR_CAP_MOD).alias("cap_base"))
        .join(F.broadcast(base), "cap_base")
        .select(
            "doc_id", "cap_base",
            F.trim(F.concat_ws(
                " ",
                F.concat_ws(" ", F.slice(
                    F.split(F.trim(F.lower("base_text")), r"\s+"), 1, 15)),
                F.concat(F.lit("x"), (F.col("doc_id") % 3).cast("string")),
            )).alias("caption"),
        )
    )
    toks = F.split(F.col("caption"), r"\s+")
    sh = (
        cap.select("doc_id", "cap_base", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", "cap_base", F.explode(F.transform(
            F.sequence(F.lit(0), F.size("t") - 2),
            lambda i: F.concat_ws(" ", F.element_at("t", i + 1),
                                  F.element_at("t", i + 2)),
        )).alias("s"))
        .select("doc_id", "cap_base", F.xxhash64("s").alias("h"))
        .distinct()
    )
    hot = (sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > _NEG_DF_CAP).select("h"))
    sh = sh.join(F.broadcast(hot), "h", "left_anti")
    anchors = sh.filter(F.col("doc_id") % _NEG_ANCHOR_MOD == 0)
    scored = (
        anchors.alias("a")
        .join(sh.alias("b"), "h")
        .filter(F.col("a.cap_base") != F.col("b.cap_base"))
        .groupBy(F.col("a.doc_id").alias("anchor_id"),
                 F.col("b.doc_id").alias("neg_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_grams"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("n_shared_grams").desc(), F.col("neg_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NEG_K)
        .select("anchor_id", F.col("rank").cast("bigint").alias("rank"),
                "neg_id", "n_shared_grams")
        .orderBy("anchor_id", "rank")
    )


#: phash near-dup knobs: Hamming radius + band split (4 bands × 4 bits:
#: ≤2 bit errors corrupt at most 2 bands, so any-shared-band candidate
#: generation is COMPLETE for radius 2 — the pigeonhole LSH guarantee)
_PH_RADIUS = 2
_PH_BANDS = 4


def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-tolerant image near-dup — the production form of the pair
    gate: re-encoded/recompressed copies rarely hash IDENTICALLY, so the
    dedup key is "perceptual hash within Hamming ≤ 2". Candidates come
    from 4-bit band buckets over the DISTINCT hash table (pigeonhole:
    ≤2 errors leave ≥2 of 4 bands intact — no all-pairs stage anywhere),
    exact popcount(xor) verifies, and each hash canonicalizes to the MIN
    hash of its verified neighborhood in ONE round (star semantics, not
    transitive closure — documented: A−B−C chains with d(A,C)>2 keep two
    canonicals, the conservative production default; the CC variant is
    dedup_minhash_cc's machinery if chains must merge).

    Plan (100 TB): the REAL-decode phash kernel reduces the corpus to a
    DISTINCT hash table bounded by 2^16 ROWS REGARDLESS OF CORPUS SIZE —
    banding, pair verify, and canonical mins all run on that bounded
    table (broadcastable by construction); the corpus is touched exactly
    twice (decode scan + the canonical-map broadcast join back). The
    DuckDB oracle rebuilds everything from the closed pixel form."""
    from dbt_spark.functions.multimodal import (_make_pixel_codecs,
                                                perceptual_phash)

    codecs = _make_pixel_codecs()
    docs = _docs_raw(spark, sf_dir)
    blobs = docs.select("doc_id").mapInPandas(
        _pair_blob_gen((codecs[0], codecs[2])),
        schema="doc_id long, payload binary")
    # pinned: referenced by the distinct hash table AND the canonical-map
    # join-back — without the checkpoint the real decode chain runs twice
    ph = perceptual_phash(blobs).select("doc_id", "phash").localCheckpoint(
        eager=False)

    hashes = ph.select("phash").distinct()
    bands = hashes.select(
        "phash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("bi"),
                F.expr(f"shiftright(phash, {4 * b}) & 15").alias("bv"),
            ) for b in range(_PH_BANDS)])).alias("x"),
    ).select("phash", "x.bi", "x.bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("a.phash") < F.col("b.phash"))
        .select(F.col("a.phash").alias("u"), F.col("b.phash").alias("v"))
        .distinct()
    )
    verified = cand.filter(
        F.bit_count(F.col("u").bitwiseXOR(F.col("v"))) <= _PH_RADIUS)
    nb = (
        verified.select(F.col("u").alias("phash"), F.col("v").alias("nb"))
        .unionByName(verified.select(F.col("v").alias("phash"),
                                     F.col("u").alias("nb")))
        .unionByName(hashes.select("phash", F.col("phash").alias("nb")))
    )
    canon = nb.groupBy("phash").agg(F.min("nb").alias("canonical_phash"))
    grp_min = (
        ph.join(F.broadcast(canon), "phash")
        .groupBy("canonical_phash")
        .agg(F.min("doc_id").alias("grp_min"))
    )
    return (
        ph.join(F.broadcast(canon), "phash")
        .join(F.broadcast(grp_min), "canonical_phash")
        .select(
            "doc_id", "phash", "canonical_phash",
            (F.col("doc_id") == F.col("grp_min")).alias("keep"),
        )
        .orderBy("doc_id")
    )


#: caption-alignment fixture knobs: window offset mod, window tokens,
#: containment threshold
_ALIGN_K_MOD = 5
_ALIGN_WIN = 12
_ALIGN_THRESH = 0.8


def multimodal_caption_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-alignment audit — the second pre-contrastive gate: does the
    caption actually describe THIS page? Per pair, the caption's distinct
    word-3-grams are checked for containment in the page's REAL-extracted
    visible text (functions/html_extract.py builds a genuine boilerplated
    page around the doc text, then the stdlib-parser extractor recovers
    the visible copy); misaligned pairs (containment < 0.8) are flagged.
    Captions are a consecutive 12-token window of the page copy; every
    4th pair carries 3 planted off-page noise tokens (the stock-photo
    caption case), so the audit has true positives at every SF.

    Plan (100 TB): page render + extraction is one shuffle-free
    mapInPandas pass (Arrow batches, blobs/pages never leave the task);
    gram matching shuffles 8-byte xxhash64 keys only (the DuckDB oracle
    joins raw gram strings, so a 64-bit collision would surface as a
    value mismatch); output is one row per pair."""
    from dbt_spark.functions.html_extract import _make_html_tools

    tools = _make_html_tools()

    def gen(it):
        import pandas as _pd

        extract, build = tools
        for pdf in it:
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "vis": [extract(build(t, int(d)))
                        for d, t in zip(pdf["doc_id"], pdf["text"])],
            })

    docs = _docs_raw(spark, sf_dir).select("doc_id", "text")
    pages = docs.mapInPandas(gen, schema="doc_id long, vis string")

    def grams3(df: DataFrame, arr_col) -> DataFrame:
        return (
            df.select("doc_id", arr_col.alias("t"))
            .filter(F.size("t") >= 3)
            .select("doc_id", F.explode(F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i + 1), F.element_at("t", i + 2),
                    F.element_at("t", i + 3)),
            )).alias("g"))
            .select("doc_id", F.xxhash64("g").alias("h"))
            .distinct()
        )

    pg = grams3(pages, F.split(F.trim("vis"), r"\s+"))
    noise = F.array(*[
        F.concat(F.lit(f"zzq{ch}"), (F.col("doc_id") % 7).cast("string"))
        for ch in "abc"])
    cap_toks = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.col("win"), noise)).otherwise(F.col("win"))
    # filter(x != ''): an empty document must yield an EMPTY window, not a
    # phantom '' token (split of '' is ['']) — caught by the r13 fuzz
    caps = (
        docs.select(
            "doc_id",
            F.expr(f"slice(filter(split(trim(text), '\\\\s+'), "
                   f"x -> x != ''), "
                   f"int(doc_id % {_ALIGN_K_MOD}) + 1, {_ALIGN_WIN})")
            .alias("win"))
        .select("doc_id", cap_toks.alias("ct"))
    )
    cg = grams3(caps, F.col("ct"))
    per = (
        cg.join(pg.withColumn("hit", F.lit(1)), ["doc_id", "h"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_caption_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
            .alias("n_matched"),
        )
    )
    ratio = F.col("n_matched") / F.col("n_caption_grams")
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_caption_grams", F.lit(0)).cast("bigint")
            .alias("n_caption_grams"),
            F.coalesce("n_matched", F.lit(0)).cast("bigint")
            .alias("n_matched"),
            F.round(ratio, 6).alias("containment_r6"),
            F.coalesce(ratio >= _ALIGN_THRESH, F.lit(False)).alias("aligned"),
        )
        .orderBy("doc_id")
    )


_NGRAM_LM_SQL = f"""
        WITH d AS (
            SELECT doc_id, lang, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 2
        ),
        bi AS (
            SELECT doc_id, lang,
                   unnest(list_transform(generate_series(1, len(ws) - 1),
                          i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS g
            FROM d
        ),
        b2 AS (SELECT doc_id, lang, g.w1 AS w1, g.w2 AS w2 FROM bi),
        c2 AS (
            SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2
            FROM b2 WHERE lang = 'en' GROUP BY w1, w2
        ),
        c1 AS (
            SELECT w1, CAST(count(*) AS DOUBLE) AS c1
            FROM b2 WHERE lang = 'en' GROUP BY w1
        ),
        v AS (
            SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v
            FROM b2 WHERE lang = 'en'
        ),
        s AS (
            SELECT b2.doc_id, b2.lang,
                   -ln((COALESCE(c2.c2, 0) + 0.5)
                       / (COALESCE(c1.c1, 0) + 0.5 * v.v)) AS nll
            FROM b2
            LEFT JOIN c2 ON b2.w1 = c2.w1 AND b2.w2 = c2.w2
            LEFT JOIN c1 ON b2.w1 = c1.w1
            CROSS JOIN v
        )
        SELECT doc_id, lang,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(nll), 6) AS avg_nll,
               round(exp(avg(nll)), 4) AS ppl
        FROM s GROUP BY doc_id, lang
    """


#: domain_mixture_reweight knobs: multiplicative-weights step size and
#: the positivity clamp (weights can never hit zero)
_MIX_ETA = 0.2
_MIX_FLOOR = 1e-9


def domain_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style mixture reweighting (Xie et al. 2023, public): start
    from the token-share baseline mixture over sources and run three
    multiplicative-weights rounds against a per-source loss proxy,
    upweighting sources whose loss exceeds the current mixture's weighted
    mean — the domain-mixture optimization step between corpus stats and
    sampler config in a pretraining pipeline. The exp() update is
    linearized to w·(1 + η·excess) (polynomial-weights Hedge, same
    fixed point direction) so every operation is + − × ÷ on doubles.

    Determinism: weights are pinned to 6 decimals after every round and
    the two cross-source reductions per round (weighted mean loss,
    normalizer) are pinned to 9 — each round's inputs are bit-identical
    in both engines, so order-dependent double summation cannot compound
    (the copurchase_pagerank round-pinning pattern). Loss proxy = mean
    non-whitespace chars per token, exact bigint ratios.

    Scale: the corpus is touched by ONE source-keyed aggregate with
    map-side partials; all three rounds operate on the source-cardinality
    frame (dimension-sized) with 1-row broadcast scalars — at 100 TB the
    iterations still cost nothing.
    """
    docs = _docs(spark, sf_dir)
    return mixture_weights_from_partials(mixture_partials(docs))


def mixture_partials(docs: DataFrame) -> DataFrame:
    """(source, n_docs, toks, letters) — the corpus-touching aggregate of
    domain_mixture_reweight, split out because the partials are ADDITIVE
    (bigint sums): micro-batch partials sum-merge to exactly the full-scan
    result, which is what makes the streaming twin value-pairable."""
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("bigint").alias("toks"),
        F.sum(F.length(F.regexp_replace("text", r"\s+", "")))
        .cast("bigint").alias("letters"),
    )


def mixture_weights_from_partials(agg: DataFrame) -> DataFrame:
    """The three pinned multiplicative-weights rounds over a
    (source, n_docs, toks, letters) frame — see domain_mixture_reweight."""
    tot = agg.agg(F.sum("toks").cast("bigint").alias("tot_toks"))
    base = (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "toks",
            (F.col("letters").cast("double") / F.col("toks").cast("double")
             ).alias("loss"),
            F.round(F.col("toks").cast("double")
                    / F.col("tot_toks").cast("double"), 6).alias("w0"),
        )
    )
    # pin the corpus aggregate: every MW round references the previous
    # round's frame 3× (mean, update, normalizer), so an un-checkpointed
    # lineage re-derives the corpus scan 2^rounds times. One eager
    # localCheckpoint of the source-cardinality frame caps the corpus at
    # exactly ONE scan; the rounds then run on ~20 rows.
    base = base.localCheckpoint(eager=True)
    w = base.withColumn("w", F.col("w0"))
    for _ in range(3):
        m = w.agg(F.round(F.sum(F.col("w") * F.col("loss")), 9).alias("m"))
        raw = (
            w.crossJoin(F.broadcast(m))
            .withColumn(
                "r",
                F.greatest(
                    F.lit(_MIX_FLOOR),
                    F.col("w") * (1.0 + _MIX_ETA * (F.col("loss") - F.col("m"))),
                ),
            )
        )
        s = raw.agg(F.round(F.sum("r"), 9).alias("s"))
        w = (
            raw.crossJoin(F.broadcast(s))
            .select(
                "source", "n_docs", "toks", "loss", "w0",
                F.round(F.col("r") / F.col("s"), 6).alias("w"),
            )
        )
    return (
        w.select(
            "source", "n_docs", "toks",
            F.round("loss", 6).alias("loss_r6"),
            F.col("w0").alias("w_base_r6"),
            F.col("w").alias("w_opt_r6"),
            F.round(F.col("w") - F.col("w0"), 6).alias("w_delta_r6"),
        )
        .orderBy("source")
    )


ORACLES: dict[str, str] = {
    # three multiplicative-weights rounds unrolled as MATERIALIZED CTEs;
    # the round-pinning (weights r6, cross-source reductions r9) makes
    # every round's inputs bit-identical to the Spark plan
    "domain_mixture_reweight": f"""
        WITH agg AS MATERIALIZED (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                        AS BIGINT) AS toks,
                   CAST(sum(length(regexp_replace(text, '\\s+', '', 'g')))
                        AS BIGINT) AS letters
            FROM documents GROUP BY source
        ), base AS MATERIALIZED (
            SELECT source, n_docs, toks,
                   CAST(letters AS DOUBLE) / CAST(toks AS DOUBLE) AS loss,
                   round(CAST(toks AS DOUBLE) /
                         CAST((SELECT CAST(sum(toks) AS BIGINT) FROM agg)
                              AS DOUBLE), 6) AS w
            FROM agg
        ), m1 AS MATERIALIZED (
            SELECT round(sum(w * loss), 9) AS m FROM base
        ), r1 AS MATERIALIZED (
            SELECT b.*, greatest({_MIX_FLOOR},
                     w * (1.0 + {_MIX_ETA} * (loss - m1.m))) AS r
            FROM base b CROSS JOIN m1
        ), w1 AS MATERIALIZED (
            SELECT source, n_docs, toks, loss,
                   round(r / (SELECT round(sum(r), 9) FROM r1), 6) AS w
            FROM r1
        ), m2 AS MATERIALIZED (
            SELECT round(sum(w * loss), 9) AS m FROM w1
        ), r2 AS MATERIALIZED (
            SELECT b.*, greatest({_MIX_FLOOR},
                     w * (1.0 + {_MIX_ETA} * (loss - m2.m))) AS r
            FROM w1 b CROSS JOIN m2
        ), w2 AS MATERIALIZED (
            SELECT source, n_docs, toks, loss,
                   round(r / (SELECT round(sum(r), 9) FROM r2), 6) AS w
            FROM r2
        ), m3 AS MATERIALIZED (
            SELECT round(sum(w * loss), 9) AS m FROM w2
        ), r3 AS MATERIALIZED (
            SELECT b.*, greatest({_MIX_FLOOR},
                     w * (1.0 + {_MIX_ETA} * (loss - m3.m))) AS r
            FROM w2 b CROSS JOIN m3
        ), w3 AS MATERIALIZED (
            SELECT source, n_docs, toks, loss,
                   round(r / (SELECT round(sum(r), 9) FROM r3), 6) AS w
            FROM r3
        )
        SELECT w3.source, w3.n_docs, w3.toks,
               round(w3.loss, 6) AS loss_r6,
               base.w AS w_base_r6,
               w3.w AS w_opt_r6,
               round(w3.w - base.w, 6) AS w_delta_r6
        FROM w3 JOIN base ON w3.source = base.source
        ORDER BY w3.source
    """,
    # the Bloom filter only PREFILTERS (false positives removed by the
    # exact join), so the naive restatement is decontam_ngram_overlap's
    "decontam_bloom_prefilter": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 3
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                       AS g
            FROM d
        ),
        b AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
        SELECT g.doc_id,
               CAST(count(DISTINCT g.g) AS BIGINT) AS n_overlap
        FROM g JOIN b ON g.g = b.g
        WHERE g.doc_id % 97 != 0
        GROUP BY g.doc_id
    """,
    # exact threshold semantics: the MG pass only GENERATES candidates, so
    # the naive full groupBy restates the result exactly
    "heavy_hitters_mg": """
        WITH toks AS (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(trim(text)), '\\s+'),
                x -> x <> '')) AS token
            FROM documents
        ),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT token, CAST(count(*) AS BIGINT) AS cnt
        FROM toks, tot
        GROUP BY token, tot.n
        HAVING count(*) > tot.n / 100.0
    """,
    # the chain edges are built within exact-dedup-key groups, so the
    # component of every colliding doc is closed-form: min doc_id sharing
    # its (lang, n_chars) key (the CC algorithm must traverse the chain)
    "dedup_cc_star_chain": """
        WITH dup AS (
            SELECT doc_id,
                   count(*)    OVER (PARTITION BY lang, n_chars) AS c,
                   min(doc_id) OVER (PARTITION BY lang, n_chars) AS m
            FROM documents
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(m AS BIGINT) AS component
        FROM dup WHERE c > 1
    """,
    # removal twin: per-position repeat lengths (same machinery as
    # suffix_repeat_stats, doc_id<120 slice), union the >=50 spans, rebuild
    "suffix_substring_remove": """
        WITH docs AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id < 120 AND length(text) >= 1
        ),
        expl AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS p
            FROM docs
        ),
        pos AS (
            SELECT doc_id, p, substr(text, p, 256) AS key FROM expl
        ),
        ord AS MATERIALIZED (
            SELECT doc_id, p, key,
                   lag(key)  OVER (ORDER BY key, doc_id, p) AS pk,
                   lead(key) OVER (ORDER BY key, doc_id, p) AS nk
            FROM pos
        ),
        nbr AS (
            SELECT doc_id, p, key AS a, pk AS b FROM ord WHERE pk IS NOT NULL
            UNION ALL
            SELECT doc_id, p, key AS a, nk AS b FROM ord WHERE nk IS NOT NULL
        ),
        s0 AS MATERIALIZED (
            SELECT doc_id, p, a, b,
              CASE WHEN substr(a,1,256)=substr(b,1,256) THEN 256 ELSE 0 END AS v
            FROM nbr),
        s1 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,128)=substr(b,v+1,128) THEN 128 ELSE 0 END AS v FROM s0),
        s2 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,64)=substr(b,v+1,64) THEN 64 ELSE 0 END AS v FROM s1),
        s3 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,32)=substr(b,v+1,32) THEN 32 ELSE 0 END AS v FROM s2),
        s4 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,16)=substr(b,v+1,16) THEN 16 ELSE 0 END AS v FROM s3),
        s5 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,8)=substr(b,v+1,8) THEN 8 ELSE 0 END AS v FROM s4),
        s6 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,4)=substr(b,v+1,4) THEN 4 ELSE 0 END AS v FROM s5),
        s7 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,2)=substr(b,v+1,2) THEN 2 ELSE 0 END AS v FROM s6),
        s8 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,1)=substr(b,v+1,1) THEN 1 ELSE 0 END AS v FROM s7),
        rep AS (
            SELECT doc_id, p,
                   max(least(v, length(a), length(b))) AS rep
            FROM s8 GROUP BY doc_id, p
        ),
        covered AS (
            SELECT DISTINCT doc_id, unnest(generate_series(p, p + rep - 1))
                       AS cpos
            FROM rep WHERE rep >= 50
        ),
        chars AS (
            SELECT doc_id, p, substr(text, p, 1) AS ch FROM expl
        ),
        rebuilt AS (
            SELECT chars.doc_id,
                   coalesce(string_agg(ch, '' ORDER BY p), '') AS new_text
            FROM chars
            LEFT JOIN covered
              ON chars.doc_id = covered.doc_id AND chars.p = covered.cpos
            WHERE covered.cpos IS NULL
            GROUP BY chars.doc_id
        )
        SELECT d.doc_id,
               md5(coalesce(r.new_text, '')) AS text_md5,
               CAST(length(coalesce(r.new_text, '')) AS BIGINT) AS new_len
        FROM docs d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
    # naive restatement of the suffix-array semantics: sort every suffix's
    # 256-char prefix, LCP with both sorted neighbors via an exact unrolled
    # binary search (both-exhausted windows compare equal and overshoot;
    # the least(len) clamp restores exactness — suffixes identical to their
    # ends have LCP = remaining length)
    "suffix_repeat_stats": """
        WITH expl AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS p
            FROM documents
            WHERE length(text) >= 1
        ),
        pos AS (
            SELECT doc_id, p, substr(text, p, 256) AS key FROM expl
        ),
        ord AS MATERIALIZED (
            SELECT doc_id, p, key,
                   lag(key)  OVER (ORDER BY key, doc_id, p) AS pk,
                   lead(key) OVER (ORDER BY key, doc_id, p) AS nk
            FROM pos
        ),
        nbr AS (
            SELECT doc_id, p, key AS a, pk AS b FROM ord WHERE pk IS NOT NULL
            UNION ALL
            SELECT doc_id, p, key AS a, nk AS b FROM ord WHERE nk IS NOT NULL
        ),
        -- each lift step MATERIALIZED: lateral-alias inlining would expand
        -- the binary search to 2^9 substr evaluations per row otherwise
        s0 AS MATERIALIZED (
            SELECT doc_id, p, a, b,
              CASE WHEN substr(a,1,256)=substr(b,1,256) THEN 256 ELSE 0 END AS v
            FROM nbr),
        s1 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,128)=substr(b,v+1,128) THEN 128 ELSE 0 END AS v FROM s0),
        s2 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,64)=substr(b,v+1,64) THEN 64 ELSE 0 END AS v FROM s1),
        s3 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,32)=substr(b,v+1,32) THEN 32 ELSE 0 END AS v FROM s2),
        s4 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,16)=substr(b,v+1,16) THEN 16 ELSE 0 END AS v FROM s3),
        s5 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,8)=substr(b,v+1,8) THEN 8 ELSE 0 END AS v FROM s4),
        s6 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,4)=substr(b,v+1,4) THEN 4 ELSE 0 END AS v FROM s5),
        s7 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,2)=substr(b,v+1,2) THEN 2 ELSE 0 END AS v FROM s6),
        s8 AS MATERIALIZED (SELECT doc_id, p, a, b,
              v + CASE WHEN substr(a,v+1,1)=substr(b,v+1,1) THEN 1 ELSE 0 END AS v FROM s7),
        rep AS (
            SELECT doc_id, p,
                   max(least(v, length(a), length(b))) AS rep
            FROM s8 GROUP BY doc_id, p
        )
        SELECT d.doc_id,
               CAST(coalesce(max(r.rep), 0) AS BIGINT) AS max_rep,
               CAST(coalesce(sum(CASE WHEN r.rep >= 50 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_rep50
        FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
        GROUP BY d.doc_id
    """,
    "html_extract_visible_text": """
        WITH norm AS (
            SELECT doc_id,
                   array_to_string(
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x <> ''), ' ') AS t
            FROM documents
        )
        SELECT doc_id,
               md5(t) AS text_md5,
               CAST(length(t) AS BIGINT) AS n_chars,
               CAST(CASE WHEN t = '' THEN 0
                    ELSE length(t) - length(replace(t, ' ', '')) + 1 END
                    AS BIGINT) AS n_words
        FROM norm
    """,
    # phash rebuilt from the generator's closed pixel form (the Spark side
    # REALLY decodes the PNG/BMP container); minhash is portable md5 so
    # both engines derive identical signatures
    "multimodal_pair_dedup": f"""
        WITH {_PAIR_PHASH_CTE}, cap AS (
            SELECT d.doc_id,
                   trim(concat_ws(' ',
                        array_to_string(list_slice(
                            string_split_regex(trim(lower(b.text)), '\\s+'),
                            1, 15), ' '),
                        'x' || CAST(d.doc_id % 3 AS VARCHAR))) AS caption
            FROM documents d
            JOIN documents b ON b.doc_id = d.doc_id % {_PAIR_CAP_MOD}
        ), capt AS (
            SELECT doc_id, string_split_regex(caption, '\\s+') AS t FROM cap
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS s
            FROM capt, UNNEST(generate_series(1, len(t) - 1)) u(i)
            WHERE len(t) >= 2
        ), hv AS (
            SELECT doc_id, p,
                   min(CAST(('0x' || substr(md5(CAST(p AS VARCHAR)
                                                || ':' || s), 1, 15))
                            AS BIGINT)) AS mh
            FROM sh, UNNEST(generate_series(0, {_PAIR_MH_PERMS - 1})) pp(p)
            GROUP BY 1, 2
        ), sig AS (
            SELECT doc_id,
                   min(CASE WHEN p = 0 THEN mh END) AS m0,
                   min(CASE WHEN p = 1 THEN mh END) AS m1,
                   min(CASE WHEN p = 2 THEN mh END) AS m2,
                   min(CASE WHEN p = 3 THEN mh END) AS m3,
                   min(CASE WHEN p = 4 THEN mh END) AS m4,
                   min(CASE WHEN p = 5 THEN mh END) AS m5
            FROM hv GROUP BY 1
        ), bands AS (
            SELECT doc_id, b,
                   md5(CAST(CASE WHEN b = 0 THEN m0 WHEN b = 1 THEN m2
                                 ELSE m4 END AS VARCHAR) || ':' ||
                       CAST(CASE WHEN b = 0 THEN m1 WHEN b = 1 THEN m3
                                 ELSE m5 END AS VARCHAR)) AS bh
            FROM sig, UNNEST(generate_series(0, 2)) bb(b)
        ), band_min AS (
            SELECT b, bh, min(doc_id) AS mn FROM bands GROUP BY 1, 2
        ), capmin AS (
            SELECT bands.doc_id, min(band_min.mn) AS cap_min
            FROM bands JOIN band_min USING (b, bh) GROUP BY 1
        ), img_min AS (
            SELECT phash, min(doc_id) AS img_min FROM ph GROUP BY 1
        )
        SELECT p.doc_id, p.phash,
               CAST(i.img_min AS BIGINT) AS img_min,
               CAST(coalesce(c.cap_min, p.doc_id) AS BIGINT) AS cap_min,
               p.doc_id = least(i.img_min,
                                coalesce(c.cap_min, p.doc_id)) AS keep
        FROM ph p
        JOIN img_min i USING (phash)
        LEFT JOIN capmin c ON c.doc_id = p.doc_id
        ORDER BY p.doc_id
    """,
    "audio_transcript_rate_audit": f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(1 + doc_id % 2 AS BIGINT) AS channels,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        ELSE 44100 END AS BIGINT) AS sample_rate,
                   CAST(50 + doc_id % 101 AS BIGINT) AS n_frames,
                   CAST(least(
                       len(list_filter({_TOKS}, x -> x <> '')),
                       1 + doc_id % {_RATE_TOK_MOD}) AS BIGINT)
                       AS n_transcript_tokens
            FROM documents
        )
        SELECT doc_id, channels, sample_rate, n_frames,
               n_transcript_tokens,
               round(n_transcript_tokens * sample_rate
                     / CAST(n_frames AS DOUBLE), 6) AS rate_tok_per_s_r6,
               (round(n_transcript_tokens * sample_rate
                      / CAST(n_frames AS DOUBLE), 6) >= {_RATE_MIN}
                AND round(n_transcript_tokens * sample_rate
                          / CAST(n_frames AS DOUBLE), 6) <= {_RATE_MAX})
                   AS rate_ok
        FROM d ORDER BY doc_id
    """,
    "pair_hard_negative_mine": f"""
        WITH cap AS (
            SELECT d.doc_id, d.doc_id % {_PAIR_CAP_MOD} AS cap_base,
                   trim(concat_ws(' ',
                        array_to_string(list_slice(
                            string_split_regex(trim(lower(b.text)), '\\s+'),
                            1, 15), ' '),
                        'x' || CAST(d.doc_id % 3 AS VARCHAR))) AS caption
            FROM documents d
            JOIN documents b ON b.doc_id = d.doc_id % {_PAIR_CAP_MOD}
        ), capt AS (
            SELECT doc_id, cap_base,
                   string_split_regex(caption, '\\s+') AS t
            FROM cap
        ), sh0 AS (
            SELECT DISTINCT doc_id, cap_base, t[i] || ' ' || t[i + 1] AS s
            FROM capt, UNNEST(generate_series(1, len(t) - 1)) u(i)
            WHERE len(t) >= 2
        ), hot AS (
            SELECT s FROM sh0 GROUP BY s HAVING count(*) > {_NEG_DF_CAP}
        ), sh AS (
            SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)
        ), scored AS (
            SELECT a.doc_id AS anchor_id, b.doc_id AS neg_id,
                   CAST(count(*) AS BIGINT) AS n_shared_grams
            FROM sh a JOIN sh b ON a.s = b.s AND a.cap_base <> b.cap_base
            WHERE a.doc_id % {_NEG_ANCHOR_MOD} = 0
            GROUP BY 1, 2
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                ORDER BY n_shared_grams DESC, neg_id ASC) AS rank
            FROM scored
        )
        SELECT anchor_id, CAST(rank AS BIGINT) AS rank, neg_id,
               n_shared_grams
        FROM ranked WHERE rank <= {_NEG_K}
        ORDER BY anchor_id, rank
    """,
    "multimodal_phash_neardup": f"""
        WITH {_PAIR_PHASH_CTE}, hashes AS (
            SELECT DISTINCT phash FROM ph
        ), bands AS (
            SELECT phash, bi, (phash >> (4 * bi)) & 15 AS bv
            FROM hashes, UNNEST(generate_series(0, {_PH_BANDS - 1})) u(bi)
        ), cand AS (
            SELECT DISTINCT a.phash AS u, b2.phash AS v
            FROM bands a JOIN bands b2
              ON a.bi = b2.bi AND a.bv = b2.bv AND a.phash < b2.phash
        ), ver AS (
            SELECT u, v FROM cand
            WHERE bit_count(xor(u, v)) <= {_PH_RADIUS}
        ), nb AS (
            SELECT u AS phash, v AS nb FROM ver
            UNION ALL SELECT v AS phash, u AS nb FROM ver
            UNION ALL SELECT phash, phash AS nb FROM hashes
        ), canon AS (
            SELECT phash, min(nb) AS canonical_phash FROM nb GROUP BY 1
        ), withc AS (
            SELECT p.doc_id, p.phash, c.canonical_phash
            FROM ph p JOIN canon c USING (phash)
        ), gm AS (
            SELECT canonical_phash, min(doc_id) AS grp_min
            FROM withc GROUP BY 1
        )
        SELECT w.doc_id, w.phash, w.canonical_phash,
               w.doc_id = g.grp_min AS keep
        FROM withc w JOIN gm g USING (canonical_phash)
        ORDER BY w.doc_id
    """,
    # the page's visible text is exactly the whitespace-normalized source
    # text (html_extract_visible_text pins that md5-exactly), so the
    # oracle grams the source directly while Spark grams the REAL
    # parser-extracted copy
    "multimodal_caption_alignment": f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
        ), tf AS (
            -- empty docs yield an EMPTY window, not a phantom '' token
            SELECT doc_id, ws, list_filter(ws, x -> x <> '') AS wf FROM t
        ), capt AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN
                       list_concat(
                           list_slice(wf, doc_id % {_ALIGN_K_MOD} + 1,
                                      doc_id % {_ALIGN_K_MOD}
                                      + {_ALIGN_WIN}),
                           ['zzqa' || CAST(doc_id % 7 AS VARCHAR),
                            'zzqb' || CAST(doc_id % 7 AS VARCHAR),
                            'zzqc' || CAST(doc_id % 7 AS VARCHAR)])
                   ELSE list_slice(wf, doc_id % {_ALIGN_K_MOD} + 1,
                                   doc_id % {_ALIGN_K_MOD} + {_ALIGN_WIN})
                   END AS ct
            FROM tf
        ), cg AS (
            SELECT DISTINCT doc_id,
                   ct[i] || ' ' || ct[i + 1] || ' ' || ct[i + 2] AS g
            FROM capt, UNNEST(generate_series(1, len(ct) - 2)) u(i)
            WHERE len(ct) >= 3
        ), pg AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
            FROM t, UNNEST(generate_series(1, len(ws) - 2)) u(i)
            WHERE len(ws) >= 3
        ), per AS (
            SELECT cg.doc_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN pg.g IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS m
            FROM cg LEFT JOIN pg
                ON cg.doc_id = pg.doc_id AND cg.g = pg.g
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(per.n, 0) AS BIGINT) AS n_caption_grams,
               CAST(coalesce(per.m, 0) AS BIGINT) AS n_matched,
               round(CAST(per.m AS DOUBLE) / per.n, 6) AS containment_r6,
               coalesce(CAST(per.m AS DOUBLE) / per.n
                        >= {_ALIGN_THRESH}, false) AS aligned
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        ORDER BY d.doc_id
    """,
    "multimodal_pixel_decode": f"""
        WITH {_PX_CTE}
        SELECT doc_id, fmt AS media_format,
               CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
               CAST(SUM((doc_id + 7*r + 13*c) % 256) AS BIGINT) AS red_sum,
               CAST(SUM((2*doc_id + 5*r + 11*c) % 256) AS BIGINT) AS green_sum,
               CAST(SUM((3*doc_id + 3*r + 17*c) % 256) AS BIGINT) AS blue_sum,
               CAST(SUM((r * w + c) * ((doc_id + 7*r + 13*c) % 256))
                    AS BIGINT) AS red_pos_weighted
        FROM px GROUP BY doc_id, fmt, w, h
    """,
    "multimodal_resize_nearest": """
        WITH dims AS (
            SELECT doc_id,
                   4 + (7 * doc_id) % 13 AS w,
                   4 + (11 * doc_id) % 9 AS h
            FROM documents
        ),
        rws AS (SELECT doc_id, w, h,
                       unnest(generate_series(0, 5)) AS ro FROM dims),
        grid AS (SELECT doc_id, w, h, ro,
                        unnest(generate_series(0, 7)) AS co FROM rws),
        mapped AS (
            SELECT doc_id,
                   (ro * h) // 6 AS r, (co * w) // 8 AS c
            FROM grid
        )
        SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
               CAST(SUM((doc_id + 7*r + 13*c) % 256) AS BIGINT) AS red_sum,
               CAST(SUM((2*doc_id + 5*r + 11*c) % 256) AS BIGINT) AS green_sum,
               CAST(SUM((3*doc_id + 3*r + 17*c) % 256) AS BIGINT) AS blue_sum
        FROM mapped GROUP BY doc_id
    """,
    "multimodal_wav_pcm_decode": """
        WITH d AS (
            SELECT doc_id, 1 + doc_id % 2 AS ch,
                   CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        ELSE 44100 END AS sr,
                   (50 + doc_id % 101) * (1 + doc_id % 2) AS n
            FROM documents
        ),
        s AS (SELECT doc_id, ch, sr, n,
                     ((31 * doc_id + 17 * unnest(generate_series(0, n - 1)))
                      % 65536) - 32768 AS v
              FROM d)
        SELECT doc_id, CAST(ch AS BIGINT) AS channels,
               CAST(sr AS BIGINT) AS sample_rate,
               CAST(n AS BIGINT) AS n_samples,
               CAST(SUM(v) AS BIGINT) AS sample_sum,
               CAST(MIN(v) AS BIGINT) AS sample_min,
               CAST(MAX(v) AS BIGINT) AS sample_max
        FROM s GROUP BY doc_id, ch, sr, n
    """,
    "multimodal_g711_roundtrip": """
        WITH d AS (
            SELECT doc_id, 80 + doc_id % 120 AS n FROM documents
        ),
        s AS (SELECT doc_id, n,
                     ((31 * doc_id + 17 * unnest(generate_series(0, n - 1)))
                      % 65536) - 32768 AS v
              FROM d),
        ulaw AS (
            SELECT doc_id, n, v, least(32635, abs(v)) + 132 AS m FROM s
            WHERE doc_id % 2 = 0
        ),
        useg AS (
            SELECT doc_id, n, v, m,
                   CASE WHEN m<256 THEN 0 WHEN m<512 THEN 1
                        WHEN m<1024 THEN 2 WHEN m<2048 THEN 3
                        WHEN m<4096 THEN 4 WHEN m<8192 THEN 5
                        WHEN m<16384 THEN 6 ELSE 7 END AS g
            FROM ulaw
        ),
        udec AS (
            SELECT doc_id, n,
                   CASE WHEN v<0 THEN -1 ELSE 1 END *
                   (((((m >> (g+3)) & 15) * 8 + 132) << g) - 132) AS dec
            FROM useg
        ),
        alaw AS (
            SELECT doc_id, n, v, least(32767, abs(v)) >> 3 AS a FROM s
            WHERE doc_id % 2 = 1
        ),
        aseg AS (
            SELECT doc_id, n, v, a,
                   CASE WHEN a<64 THEN 1 WHEN a<128 THEN 2 WHEN a<256 THEN 3
                        WHEN a<512 THEN 4 WHEN a<1024 THEN 5
                        WHEN a<2048 THEN 6 ELSE 7 END AS g
            FROM alaw
        ),
        adec AS (
            SELECT doc_id, n,
                   CASE WHEN v >= 0 THEN 1 ELSE -1 END *
                   CASE WHEN a < 32 THEN ((a >> 1) * 2 + 1) * 8
                        ELSE ((((a >> g) & 15) + 16) * 2 + 1)
                             * (1 << (g - 1)) * 8 END AS dec
            FROM aseg
        ),
        all_dec AS (SELECT * FROM udec UNION ALL SELECT * FROM adec)
        SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
               CAST(SUM(dec) AS BIGINT) AS dec_sum,
               CAST(MIN(dec) AS BIGINT) AS dec_min,
               CAST(MAX(dec) AS BIGINT) AS dec_max
        FROM all_dec GROUP BY doc_id, n
    """,
    "multimodal_jpeg_decode": """
        WITH dims AS (
            SELECT doc_id,
                   8 * (2 + (7 * doc_id) % 4) AS w,
                   8 * (2 + (11 * doc_id) % 3) AS h
            FROM documents
        ),
        rws AS (SELECT doc_id, w, h,
                       unnest(generate_series(0, h - 1)) AS r FROM dims),
        px AS (SELECT doc_id, w, h, r,
                      unnest(generate_series(0, w - 1)) AS c FROM rws),
        v AS (SELECT doc_id, w, h, r, c,
                     (doc_id + 7*(r//8) + 13*(c//8)) % 256 AS gv FROM px)
        SELECT doc_id, 'jpeg' AS media_format,
               CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
               CAST(SUM(gv) AS BIGINT) AS red_sum,
               CAST(SUM(gv) AS BIGINT) AS green_sum,
               CAST(SUM(gv) AS BIGINT) AS blue_sum,
               CAST(SUM((r * w + c) * gv) AS BIGINT) AS red_pos_weighted
        FROM v GROUP BY doc_id, w, h
    """,
    "multimodal_gif_decode": """
        WITH dims AS (
            SELECT doc_id,
                   4 + (7 * doc_id) % 13 AS w,
                   4 + (11 * doc_id) % 9 AS h
            FROM documents
        ),
        rws AS (SELECT doc_id, w, h,
                       unnest(generate_series(0, h - 1)) AS r FROM dims),
        px AS (SELECT doc_id, w, h, r,
                      unnest(generate_series(0, w - 1)) AS c FROM rws),
        v AS (SELECT doc_id, w, h, r, c,
                     (doc_id + 7*r + 13*c) % 256 AS idx FROM px)
        SELECT doc_id, 'gif' AS media_format,
               CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
               CAST(SUM(idx) AS BIGINT) AS red_sum,
               CAST(SUM((2 * idx) % 256) AS BIGINT) AS green_sum,
               CAST(SUM((3 * idx) % 256) AS BIGINT) AS blue_sum,
               CAST(SUM((r * w + c) * idx) AS BIGINT) AS red_pos_weighted
        FROM v GROUP BY doc_id, w, h
    """,
    "multimodal_pcm_decimate": """
        WITH d AS (
            SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 101 AS fr,
                   CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        ELSE 44100 END AS sr
            FROM documents
        ),
        g AS (SELECT doc_id, ch, fr, sr,
                     unnest(generate_series(0, fr // 2 - 1)) AS gg FROM d),
        s AS (SELECT doc_id, ch, fr, sr, gg,
                     unnest(generate_series(0, ch - 1)) AS c FROM g),
        v AS (SELECT doc_id, ch, fr, sr,
                     CAST(FLOOR((
                         (((31*doc_id + 17*((2*gg)*ch + c)) % 65536) - 32768)
                       + (((31*doc_id + 17*((2*gg+1)*ch + c)) % 65536) - 32768)
                     ) / 2.0) AS BIGINT) AS hv
              FROM s)
        SELECT doc_id,
               CAST(sr // 2 AS BIGINT) AS sample_rate,
               CAST((fr // 2) * ch AS BIGINT) AS n_out_samples,
               CAST(SUM(hv) AS BIGINT) AS out_sum,
               CAST(MIN(hv) AS BIGINT) AS out_min,
               CAST(MAX(hv) AS BIGINT) AS out_max
        FROM v GROUP BY doc_id, ch, fr, sr
    """,
    "multimodal_pcm_window_energy": """
        WITH d AS (
            SELECT doc_id,
                   (50 + doc_id % 101) * (1 + doc_id % 2) AS n
            FROM documents
        ),
        s AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d),
        v AS (SELECT doc_id, i // 64 AS win_idx,
                     ((31 * doc_id + 17 * i) % 65536) - 32768 AS smp
              FROM s)
        SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
               CAST(COUNT(*) AS BIGINT) AS win_len,
               CAST(SUM(ABS(smp)) AS BIGINT) AS abs_sum
        FROM v GROUP BY doc_id, win_idx
    """,
    "jsonl_ingest_quarantine": """
        SELECT CAST(SUM(CASE WHEN doc_id % 17 <> 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_valid,
               CAST(SUM(CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_quarantined,
               CAST(SUM(CASE WHEN doc_id % 17 <> 3 THEN doc_id END)
                    AS BIGINT) AS valid_docid_sum,
               CAST(SUM(CASE WHEN doc_id % 17 <> 3 THEN n_chars END)
                    AS BIGINT) AS valid_chars
        FROM documents
    """,
    "multimodal_image_headers": """
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                               WHEN 2 THEN 'gif' ELSE 'bmp' END
                   AS media_format,
               CAST(16 + (doc_id * 7) % 2048 AS BIGINT) AS width,
               CAST(16 + (doc_id * 13) % 1152 AS BIGINT) AS height
        FROM documents
    """,
    "multimodal_wav_headers": """
        SELECT doc_id,
               CAST(1 + doc_id % 2 AS BIGINT) AS channels,
               CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    ELSE 44100 END AS BIGINT) AS sample_rate,
               CAST(16 AS BIGINT) AS bits,
               CAST((100 + doc_id % 400) * 1000
                    // (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        ELSE 44100 END) AS BIGINT) AS duration_ms
        FROM documents
    """,
    "dedup_exact_substring": f"""
        WITH base AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
        ),
        b2 AS (SELECT doc_id, ws, len(ws) AS n FROM base WHERE len(ws) >= 8),
        g AS (SELECT doc_id,
                     unnest(generate_series(1, n - 7)) AS start,
                     unnest(list_transform(generate_series(1, n - 7),
                            i -> array_to_string(ws[i:i+7], ' '))) AS gram
              FROM b2),
        dup AS (SELECT gram FROM g GROUP BY gram
                HAVING COUNT(DISTINCT doc_id) >= 2),
        cov AS (SELECT DISTINCT doc_id, pos FROM (
                    SELECT g.doc_id,
                           unnest(generate_series(g.start, g.start + 7)) AS pos
                    FROM g JOIN dup USING (gram))),
        per AS (SELECT doc_id, COUNT(*) AS nd FROM cov GROUP BY 1)
        SELECT b2.doc_id, CAST(b2.n AS BIGINT) AS n_tokens,
               CAST(COALESCE(per.nd, 0) AS BIGINT) AS n_dup_tokens,
               round(CAST(COALESCE(per.nd, 0) AS DOUBLE) / b2.n, 6)
                   AS dup_ratio
        FROM b2 LEFT JOIN per USING (doc_id)
    """,
    "token_budget_select": f"""
        WITH d AS (
            SELECT source, doc_id, len({_TOKS}) AS toks,
                   CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                       / len({_TOKS}) AS q
            FROM documents
        ),
        t AS (SELECT source, SUM(toks) * 0.6 AS budget FROM d GROUP BY 1),
        c AS (SELECT source, doc_id, toks, q,
                     SUM(toks) OVER (PARTITION BY source
                                     ORDER BY q DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
              FROM d)
        SELECT t.source, round(t.budget, 6) AS budget,
               CAST(COALESCE(s.n, 0) AS BIGINT) AS n_selected,
               CAST(COALESCE(s.tk, 0) AS BIGINT) AS tokens_selected
        FROM t LEFT JOIN (
            SELECT c.source, COUNT(*) AS n, SUM(c.toks) AS tk
            FROM c JOIN t ON c.source = t.source
            WHERE c.cum <= t.budget GROUP BY 1
        ) s ON t.source = s.source
    """,
    "per_source_dup_rate": """
        WITH f AS (SELECT source, md5(text) AS fp FROM documents)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
               CAST(count(*) - count(DISTINCT fp) AS DOUBLE) / count(*)
                   AS dup_rate
        FROM f GROUP BY source
    """,

    "dup_cluster_sizes": """
        WITH c AS (
            SELECT md5(text) AS fp, count(*) AS sz
            FROM documents GROUP BY md5(text)
        )
        SELECT CAST(sz AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sz * count(*) AS BIGINT) AS n_docs
        FROM c GROUP BY sz
    """,
    "per_lang_length_stats": """
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars,
               round(CAST(median(n_chars) AS DOUBLE), 6) AS median_chars,
               round(CAST(quantile_cont(n_chars, 0.9) AS DOUBLE), 6) AS p90_chars
        FROM documents GROUP BY lang
    """,
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS t FROM documents
        ),
        tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t),
        dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        n AS (SELECT count(*) AS n FROM documents),
        s AS (
            SELECT tf.doc_id, tf.t,
                   round(CAST(tf.tf * n.n AS DOUBLE) / dfq.df, 6) AS tfidf
            FROM tf JOIN dfq ON tf.t = dfq.t CROSS JOIN n
        ),
        r AS (
            SELECT doc_id, t, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, t) AS rnk
            FROM s
        )
        SELECT doc_id, t AS term, tfidf, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3
    """,
    "ngram_novelty_rate": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 3
        ),
        g AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                       AS g
            FROM d
        ),
        f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
        p AS (
            SELECT g.doc_id,
                   count(*) AS n_grams,
                   sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                       AS n_novel
            FROM g JOIN f ON g.g = f.g GROUP BY g.doc_id
        )
        SELECT doc_id,
               CAST(n_grams AS BIGINT) AS n_grams,
               CAST(n_novel AS BIGINT) AS n_novel,
               CAST(n_novel AS DOUBLE) / n_grams AS novelty_rate
        FROM p
    """,


    "repetition_filter_gopher": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 2
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ws) - 1),
                          i -> ws[i] || ' ' || ws[i + 1])) AS g
            FROM d
        ),
        c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
        p AS (
            SELECT doc_id, sum(c) AS total, max(c) AS top_c,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
            FROM c GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(total AS BIGINT) AS n_bigrams,
               CAST(top_c AS BIGINT) AS top_bigram_count,
               CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE)
                   AS top_bigram_frac,
               CAST(dup_c AS DOUBLE) / CAST(total AS DOUBLE)
                   AS dup_bigram_frac,
               CAST(CASE WHEN CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE)
                              <= 0.20
                          AND CAST(dup_c AS DOUBLE) / CAST(total AS DOUBLE)
                              <= 0.60
                    THEN 1 ELSE 0 END AS INT) AS keep_flag
        FROM p
    """,
    "chunk_fixed_windows": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 1
        ),
        c AS (
            SELECT doc_id, ws,
                   unnest(generate_series(
                       0, CAST(floor((len(ws) - 1) / 32) AS INT))) AS ci
            FROM d
        )
        SELECT doc_id,
               CAST(ci AS INT) AS chunk_idx,
               CAST(least(32, len(ws) - ci * 32) AS BIGINT) AS chunk_len,
               md5(array_to_string(
                   list_slice(ws, ci * 32 + 1, ci * 32 + 32), ' '))
                   AS chunk_md5
        FROM c
    """,
    "decontam_ngram_overlap": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 3
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                       AS g
            FROM d
        ),
        b AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
        SELECT g.doc_id,
               CAST(count(DISTINCT g.g) AS BIGINT) AS n_overlap
        FROM g JOIN b ON g.g = b.g
        WHERE g.doc_id % 97 != 0
        GROUP BY g.doc_id
    """,
    "tokenizer_fertility_by_lang": f"""
        WITH d AS (
            SELECT lang,
                   CAST(len(regexp_extract_all(text, {_BPE_PATTERN_SQL}))
                        AS BIGINT) AS n_bpe,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len({_TOKS}) END AS BIGINT) AS n_ws,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM documents
        ), agg AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
                   CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS chars_total
            FROM d GROUP BY lang
        )
        SELECT lang, n_docs, bpe_tokens, ws_tokens, chars_total,
               round(CAST(bpe_tokens AS DOUBLE)
                     / CAST(ws_tokens AS DOUBLE), 6) AS fertility,
               round(CAST(chars_total AS DOUBLE)
                     / CAST(bpe_tokens AS DOUBLE), 6) AS chars_per_token
        FROM agg ORDER BY lang
    """,
    "rag_retrieval_eval": f"""
        WITH q AS (
            SELECT doc_id AS qid,
                   substring(text, {_RAG_Q_OFF + 1}, {_RAG_Q_LEN}) AS qtext
            FROM documents
            WHERE doc_id % {_RAG_Q_MOD} = 0
              AND length(text) >= {_RAG_Q_OFF + _RAG_Q_LEN + 1}
        ), chunks AS (
            SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                   substring(text, CAST(i * {_CHUNK_S} + 1 AS INT),
                             {_CHUNK_W}) AS ctext
            FROM documents,
                 UNNEST(generate_series(0, (length(text) - 1)
                        // {_CHUNK_S})) AS u(i)
            WHERE length(text) >= 1
        ), qt AS (
            SELECT qid, string_split_regex(trim(lower(qtext)), '\\s+') AS t
            FROM q
        ), qg AS (
            SELECT DISTINCT qid, g
            FROM qt, UNNEST(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(g)
            WHERE len(t) >= 3
        ), ct AS (
            SELECT doc_id, chunk_idx,
                   string_split_regex(trim(lower(ctext)), '\\s+') AS t
            FROM chunks
        ), cg0 AS (
            SELECT DISTINCT doc_id, chunk_idx, g
            FROM ct, UNNEST(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(g)
            WHERE len(t) >= 3
        ), hot AS (
            SELECT g FROM cg0 GROUP BY g HAVING count(*) > {_RAG_DF_CAP}
        ), cg AS (
            SELECT * FROM cg0 WHERE g NOT IN (SELECT g FROM hot)
        ), qg2 AS (
            SELECT * FROM qg WHERE g NOT IN (SELECT g FROM hot)
        ), qsizes AS (
            SELECT q.qid,
                   CAST(coalesce(gsz.ng, 0) AS BIGINT) AS n_query_grams
            FROM q LEFT JOIN (
                SELECT qid, count(*) AS ng FROM qg2 GROUP BY 1
            ) gsz ON q.qid = gsz.qid
        ), scores AS (
            SELECT qid, doc_id, chunk_idx,
                   CAST(count(*) AS BIGINT) AS score
            FROM qg2 JOIN cg USING (g) GROUP BY 1, 2, 3
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY score DESC, doc_id ASC, chunk_idx ASC) AS rank
            FROM scores
        ), top AS (
            SELECT * FROM ranked WHERE rank <= {_RAG_K}
        ), per_q AS (
            SELECT qid,
                   CAST(max(CASE WHEN doc_id = qid AND chunk_idx = 2
                                 THEN rank END) AS BIGINT) AS gold_rank,
                   CAST(max(CASE WHEN rank = 1 THEN doc_id END)
                        AS BIGINT) AS top1_doc,
                   CAST(max(CASE WHEN rank = 1 THEN chunk_idx END)
                        AS BIGINT) AS top1_chunk,
                   CAST(max(CASE WHEN rank = 1 THEN score END)
                        AS BIGINT) AS top1_score
            FROM top GROUP BY qid
        )
        SELECT s.qid, s.n_query_grams, p.gold_rank,
               p.gold_rank IS NOT NULL AS hit_at_k,
               p.top1_doc, p.top1_chunk, p.top1_score
        FROM qsizes s LEFT JOIN per_q p USING (qid)
        ORDER BY s.qid
    """,
    "skipgram_negative_table": f"""
        WITH freq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest({_TOKS_L}) AS tok FROM documents)
            WHERE length(tok) >= 1
            GROUP BY tok
        ), wd AS (
            SELECT tok, c,
                   CAST(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE)))
                        AS DECIMAL(28,12)) AS wd
            FROM freq
        ), cum AS (
            SELECT tok, c, wd,
                   CAST(SUM(wd) OVER (ORDER BY c DESC, tok ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DECIMAL(38,12)) AS cum_hi
            FROM wd
        ), cum2 AS (
            SELECT *, CAST(cum_hi - wd AS DECIMAL(38,12)) AS cum_lo
            FROM cum
        ), total AS (
            SELECT CAST(SUM(wd) AS DECIMAL(38,12)) AS total FROM wd
        ), slots AS (
            SELECT CAST(s AS BIGINT) AS slot
            FROM generate_series(0, {_NEG_TABLE_SLOTS - 1}) AS g(s)
        ), assigned AS (
            SELECT tok, c, wd, total, slot
            FROM cum2, total, slots
            WHERE cum_lo * {2 * _NEG_TABLE_SLOTS}
                      < total * (2 * slot + 1)
              AND total * (2 * slot + 1)
                      <= cum_hi * {2 * _NEG_TABLE_SLOTS}
        )
        SELECT tok, c,
               CAST(count(*) AS BIGINT) AS n_slots,
               CAST(min(slot) AS BIGINT) AS first_slot,
               CAST(max(slot) AS BIGINT) AS last_slot,
               round(CAST(wd AS DOUBLE) / CAST(total AS DOUBLE), 6)
                   AS weight_share_r6
        FROM assigned GROUP BY tok, c, wd, total ORDER BY tok
    """,
    "vocab_coverage_curve": f"""
        WITH freq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest({_TOKS_L}) AS tok FROM documents)
            WHERE length(tok) >= 1
            GROUP BY tok
        ), totals AS (
            SELECT CAST(sum(c) AS BIGINT) AS total_occurrences,
                   CAST(count(*) AS BIGINT) AS total_types
            FROM freq
        ), ranked AS (
            SELECT tok, c,
                   row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
            FROM freq
        ), curve AS (
            SELECT CAST(k AS BIGINT) AS vocab_k,
                   CAST(count(*) AS BIGINT) AS types_used,
                   CAST(sum(c) AS BIGINT) AS occurrences_covered
            FROM ranked,
                 (VALUES {", ".join(f"({k})" for k in _COVERAGE_KS)}) AS ks(k)
            WHERE rn <= k
            GROUP BY k
        )
        SELECT vocab_k, types_used, occurrences_covered,
               total_occurrences, total_types,
               round(CAST(occurrences_covered AS DOUBLE)
                     / CAST(total_occurrences AS DOUBLE), 6) AS coverage
        FROM curve CROSS JOIN totals
        ORDER BY vocab_k
    """,
    "token_count_bpe": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    {_BPE_PATTERN_SQL}))
                   AS BIGINT) AS n_bpe_tokens,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS}) END AS BIGINT) AS n_ws_tokens
        FROM documents
    """,
    "decontamination_anti_join": f"""
        WITH fps AS (
            SELECT doc_id,
                   md5(array_to_string(list_slice({_TOKS}, 1, 8), ' ')) AS fp
            FROM documents
        ),
        bench AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 97 = 0)
        SELECT doc_id FROM fps
        WHERE doc_id % 97 != 0 AND fp NOT IN (SELECT fp FROM bench)
    """,
    "embedding_quality_audit": """
        WITH d AS (
            SELECT CAST(len(embedding) AS BIGINT) AS dim,
                   (SELECT SUM(CAST(CAST(fx AS DECIMAL(18,9))
                                    * CAST(fx AS DECIMAL(18,9))
                                    AS DECIMAL(38,18)))
                    FROM (SELECT CASE WHEN embedding[i] IS NULL
                                       OR isnan(CAST(embedding[i] AS DOUBLE))
                                       OR abs(CAST(embedding[i] AS DOUBLE))
                                          > 1e30
                                      THEN 0.0 ELSE embedding[i] END AS fx
                          FROM UNNEST(generate_series(1, len(embedding)))
                               AS t(i)) ) AS n2,
                   (SELECT bool_or(embedding[i] IS NULL
                                   OR isnan(CAST(embedding[i] AS DOUBLE))
                                   OR abs(CAST(embedding[i] AS DOUBLE))
                                      > 1e30)
                    FROM UNNEST(generate_series(1, len(embedding)))
                         AS t(i)) AS bad
            FROM embeddings
        )
        SELECT dim,
               CAST(least(floor(n2 * 2 + 0.5), 9) AS BIGINT)
                   AS norm2_bucket,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero,
               CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nonfinite,
               round(CAST(sum(n2) AS DOUBLE), 6) AS sum_norm2_r6
        FROM d GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "embedding_pca_power_iteration": (lambda q=_PCA_Q, iters=_PCA_ITERS: f"""
        WITH x AS MATERIALIZED (
            SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
                   CAST(floor(CAST(embedding[i] AS DOUBLE) * {q})
                        AS BIGINT) AS xq
            FROM embeddings,
                 UNNEST(range(1, len(embedding) + 1)) AS u(i)
        ), m AS MATERIALIZED (
            SELECT a.i, b.i AS j, CAST(sum(a.xq * b.xq) AS BIGINT) AS m
            FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
        ), v0 AS (
            SELECT DISTINCT i AS dim, CAST({q} AS BIGINT) AS val FROM m
        )""" + "".join(f""", av{k} AS MATERIALIZED (
            SELECT m.i, CAST(sum(m.m * v{k - 1}.val) AS BIGINT) AS num
            FROM m JOIN v{k - 1} ON m.j = v{k - 1}.dim GROUP BY 1
        ), s{k} AS (
            SELECT CAST(max(abs(num)) AS BIGINT) AS s FROM av{k}
        ), v{k} AS MATERIALIZED (
            SELECT i AS dim,
                   CAST(CASE WHEN num >= 0 THEN ({q} * num) // s
                             ELSE -((({q} * -num)) // s) END
                        AS BIGINT) AS val
            FROM av{k}, s{k}
        )""" for k in range(1, iters + 1)) + f"""
        SELECT dim, val AS v_q,
               round(CAST(val AS DOUBLE) / {q}, 6) AS v_unit_r6,
               (SELECT s FROM s{iters}) AS lambda_scale
        FROM v{iters} ORDER BY dim
    """)(),
    "epoch_repetition_plan": f"""
        WITH avail AS (
            SELECT source,
                   CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                                 ELSE len({_TOKS}) END) AS BIGINT)
                       AS available_tokens
            FROM documents GROUP BY 1
        ), totals AS (
            SELECT CAST(sum(available_tokens) AS BIGINT) AS corpus_tokens,
                   CAST(count(*) AS BIGINT) AS n_sources
            FROM avail
        ), planned AS (
            SELECT a.source, a.available_tokens,
                   CAST(corpus_tokens * {_REPEAT_BUDGET_NUM}
                        // {_REPEAT_BUDGET_DEN} // n_sources AS BIGINT)
                       AS target_tokens
            FROM avail a CROSS JOIN totals
        )
        SELECT source, available_tokens, target_tokens,
               CAST(least(target_tokens,
                          available_tokens * {_REPEAT_CAP}) AS BIGINT)
                   AS allocated_tokens,
               round(CAST(least(target_tokens,
                                available_tokens * {_REPEAT_CAP}) AS DOUBLE)
                     / CAST(available_tokens AS DOUBLE), 6) AS repeat_factor,
               least(target_tokens, available_tokens * {_REPEAT_CAP})
                   < target_tokens AS capped,
               CAST(target_tokens
                    - least(target_tokens, available_tokens * {_REPEAT_CAP})
                    AS BIGINT) AS unmet_tokens
        FROM planned ORDER BY source
    """,
    "chunk_with_overlap": f"""
        WITH d AS (
            SELECT doc_id, text, length(text) AS len
            FROM documents WHERE length(text) >= 1
        ), chunks AS (
            SELECT doc_id, len, text, CAST(i AS BIGINT) AS chunk_idx
            FROM d, UNNEST(generate_series(0, (len - 1) // {_CHUNK_S}))
                     AS u(i)
        )
        SELECT doc_id, chunk_idx,
               CAST(chunk_idx * {_CHUNK_S} AS BIGINT) AS start_off,
               CAST(least({_CHUNK_W}, len - chunk_idx * {_CHUNK_S})
                    AS BIGINT) AS chunk_len,
               md5(substring(text, CAST(chunk_idx * {_CHUNK_S} + 1 AS INT),
                             {_CHUNK_W})) AS chunk_md5
        FROM chunks ORDER BY doc_id, chunk_idx
    """,
    "pii_redaction": r"""
        WITH dirty AS (
            SELECT doc_id,
                   substring(text, 1, 40) || ' reach user' ||
                   CAST(doc_id AS VARCHAR) || '@example.com or 555-01' ||
                   lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS dirty_text
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(dirty_text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\d{3}-\d{4}', '<PHONE>', 'g') AS clean_text,
               CAST(len(regexp_extract_all(dirty_text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   AS BIGINT) AS n_emails
        FROM dirty
    """,
    "train_val_test_split": """
        SELECT lang,
               CASE WHEN strpos('0123456789abcdef',
                         substring(md5(cast(doc_id AS VARCHAR)), 1, 1)) - 1 < 13
                    THEN 'train'
                    WHEN strpos('0123456789abcdef',
                         substring(md5(cast(doc_id AS VARCHAR)), 1, 1)) - 1 < 14
                    THEN 'val' ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents
        GROUP BY 1, 2 ORDER BY lang, split
    """,
    "corpus_weighted_sample": """
        SELECT doc_id, lang, source
        FROM documents
        WHERE strpos('0123456789abcdef',
                     substring(md5(cast(doc_id AS VARCHAR)), 32, 1)) - 1
              < CASE lang WHEN 'en' THEN 8 WHEN 'de' THEN 4
                          WHEN 'fr' THEN 12 WHEN 'es' THEN 16 ELSE 2 END
        ORDER BY doc_id
    """,
    "sequence_packing": f"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len({_TOKS}) END AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                       - n_tokens AS stream_start
            FROM toks
        )
        SELECT doc_id, source, n_tokens,
               CAST(FLOOR(stream_start / 2048.0) AS BIGINT) AS chunk_id,
               CAST(stream_start % 2048 AS BIGINT) AS chunk_offset
        FROM c
        ORDER BY source, doc_id
    """,
    "token_count": f"""
        SELECT doc_id,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len({_TOKS}) END AS BIGINT) AS n_tokens
        FROM documents
    """,
    "embedding_centroids": """
        WITH flat AS (
            SELECT label,
                   unnest(range(len(embedding))) AS pos,
                   unnest(embedding) AS v
            FROM embeddings
        )
        SELECT label,
               CAST(pos AS INT) AS pos,
               round(CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS mean_val,
               CAST(count(*) AS BIGINT) AS n
        FROM flat
        GROUP BY label, pos
    """,
    "oov_rate_vs_vocab": f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOKS_L}) AS token FROM documents
        ),
        tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
        vocab AS (
            SELECT token, 1 AS in_vocab
            FROM (SELECT token, count(*) AS n FROM tok2 GROUP BY token
                  ORDER BY n DESC, token ASC LIMIT 50)
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
        FROM tok2 LEFT JOIN vocab v USING (token)
        GROUP BY doc_id
    """,
    "length_bucket_batching": f"""
        WITH d AS (
            SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len({_TOKS}) END AS n
            FROM documents
        ),
        b AS (
            SELECT CAST(CASE WHEN n <= 8 THEN 8 WHEN n <= 16 THEN 16
                             WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
                             WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256
                             WHEN n <= 512 THEN 512 ELSE 1024 END AS BIGINT)
                       AS bucket_len,
                   n
            FROM d
        )
        SELECT bucket_len,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens,
               CAST(bucket_len * count(*) - sum(n) AS BIGINT) AS padding_waste
        FROM b
        GROUP BY bucket_len
        ORDER BY bucket_len
    """,
    "vocab_top_terms": f"""
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({_TOKS_L}) AS token FROM documents)
        WHERE length(token) > 0
        GROUP BY token
        ORDER BY n DESC, token ASC
        LIMIT 50
    """,
    "quality_filter_c4": f"""
        WITH d AS (
            SELECT doc_id,
                   {_TOKS} AS ws,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(text) -
                        length(translate(text, '.,!?;:#{{}}[]|', ''))
                        AS BIGINT) AS n_symbols,
                   CAST(len(list_filter({_TOKS_L},
                            t -> list_contains({STOP_ARR}, t)))
                        AS BIGINT) AS stop_hits
            FROM documents WHERE len({_TOKS}) >= 1
        ),
        s AS (
            SELECT doc_id, n_chars, n_symbols, stop_hits,
                   CAST(len(ws) AS BIGINT) AS n_tokens,
                   CAST(list_sum(list_transform(ws, t -> length(t)))
                        AS BIGINT) AS token_chars
            FROM d
        )
        SELECT doc_id, n_tokens,
               CAST(token_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   AS mean_token_len,
               stop_hits,
               CAST(n_symbols AS DOUBLE) / CAST(n_chars AS DOUBLE)
                   AS symbol_ratio,
               CAST(CASE WHEN n_tokens BETWEEN 20 AND 100000
                          AND CAST(token_chars AS DOUBLE) /
                              CAST(n_tokens AS DOUBLE) BETWEEN 3.0 AND 10.0
                          AND stop_hits >= 2
                          AND CAST(n_symbols AS DOUBLE) /
                              CAST(n_chars AS DOUBLE) <= 0.1
                    THEN 1 ELSE 0 END AS INT) AS keep_flag
        FROM s
    """,
    "ngram_lm_quality_score": _NGRAM_LM_SQL,
    "pmi_top_pairs": """
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x <> '')) AS t
            FROM documents
        ),
        nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
               FROM documents),
        cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        pairs AS (
            SELECT a.t AS ta, b.t AS tb, count(*) AS cab
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND a.t < b.t
            GROUP BY a.t, b.t HAVING count(*) >= 5
        )
        SELECT ta, tb, CAST(cab AS BIGINT) AS cab,
               round(ln(nd.n * cab / (ca.c * cb.c)), 6) AS pmi
        FROM pairs
        JOIN cnt ca ON pairs.ta = ca.t
        JOIN cnt cb ON pairs.tb = cb.t
        CROSS JOIN nd
        ORDER BY pmi DESC, ta ASC, tb ASC
        LIMIT 50
    """,
    # UniMax water-filling restated in SQL: ascending-cap scan, first cap
    # clearing the fair level fixes tau; md5-ordered greedy prefix per lang
    "unimax_language_budget": f"""
        WITH d AS (
            SELECT doc_id, lang, len({_TOKS}) AS toks FROM documents
        ),
        nl AS (
            SELECT lang, CAST(sum(toks) AS DOUBLE) AS cap
            FROM d GROUP BY lang
        ),
        tot AS (SELECT 0.9 * sum(cap) AS b, count(*) AS nlang FROM nl),
        ord AS (
            SELECT lang, cap,
                   row_number() OVER (ORDER BY cap, lang) AS i,
                   COALESCE(sum(cap) OVER (
                       ORDER BY cap, lang
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0.0) AS pre
            FROM nl
        ),
        lvl AS (
            SELECT i, cap, (tot.b - pre) / (tot.nlang - i + 1) AS level
            FROM ord, tot
        ),
        brk AS (
            SELECT i AS kf, level AS tau FROM lvl
            WHERE cap >= level ORDER BY i LIMIT 1
        ),
        quotas AS (
            SELECT ord.lang,
                   CASE WHEN brk.kf IS NULL OR ord.i < brk.kf THEN ord.cap
                        ELSE least(ord.cap, brk.tau) END AS quota
            FROM ord LEFT JOIN brk ON TRUE
        ),
        sel AS (
            SELECT d.lang, d.toks,
                   sum(d.toks) OVER (
                       PARTITION BY d.lang
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM d
        )
        SELECT sel.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(sel.toks) AS BIGINT) AS tokens_selected
        FROM sel JOIN quotas ON sel.lang = quotas.lang
        WHERE sel.cum <= quotas.quota
        GROUP BY sel.lang
    """,
    # same estimator, two models (in-domain = lang='en', general = all),
    # per-doc cross-entropy difference
    "moore_lewis_select": f"""
        WITH d AS (
            SELECT doc_id, lang, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 2
        ),
        bi AS (
            SELECT doc_id, lang,
                   unnest(list_transform(generate_series(1, len(ws) - 1),
                          i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS g
            FROM d
        ),
        b2 AS (SELECT doc_id, lang, g.w1 AS w1, g.w2 AS w2 FROM bi),
        c2i AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2i
                FROM b2 WHERE lang = 'en' GROUP BY w1, w2),
        c1i AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1i
                FROM b2 WHERE lang = 'en' GROUP BY w1),
        vi AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vi
               FROM b2 WHERE lang = 'en'),
        c2g AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2g
                FROM b2 GROUP BY w1, w2),
        c1g AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1g
                FROM b2 GROUP BY w1),
        vg AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vg FROM b2),
        s AS (
            SELECT b2.doc_id,
                   -ln((COALESCE(c2i.c2i, 0) + 0.5)
                       / (COALESCE(c1i.c1i, 0) + 0.5 * vi.vi)) AS nll_in,
                   -ln((COALESCE(c2g.c2g, 0) + 0.5)
                       / (COALESCE(c1g.c1g, 0) + 0.5 * vg.vg)) AS nll_gen
            FROM b2
            LEFT JOIN c2i ON b2.w1 = c2i.w1 AND b2.w2 = c2i.w2
            LEFT JOIN c1i ON b2.w1 = c1i.w1
            LEFT JOIN c2g ON b2.w1 = c2g.w1 AND b2.w2 = c2g.w2
            LEFT JOIN c1g ON b2.w1 = c1g.w1
            CROSS JOIN vi CROSS JOIN vg
        ),
        agg AS (
            SELECT doc_id, round(avg(nll_in) - avg(nll_gen), 6) AS ce_diff
            FROM s GROUP BY doc_id
        )
        SELECT doc_id, ce_diff,
               CAST(CASE WHEN ce_diff < 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS keep_flag
        FROM agg
    """,
    "ppl_bucket_split": f"""
        WITH scored AS ({_NGRAM_LM_SQL})
        SELECT doc_id, lang, ppl,
               (['head', 'middle', 'tail'])[ntile(3) OVER (
                   PARTITION BY lang ORDER BY ppl ASC, doc_id ASC)]
                   AS ppl_bucket
        FROM scored
    """,
    "export_sharded_jsonl": """
        SELECT (instr('0123456789abcdef',
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                   AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1
    """,
    "kneser_ney_mod_quality_score": f"""
        WITH d AS (
            SELECT doc_id, lang, {_TOKS} AS ws FROM documents
        ),
        tri AS (
            SELECT doc_id, lang, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3
            FROM (
                SELECT doc_id, lang,
                       unnest(list_transform(generate_series(1, len(ws) - 2),
                              i -> {{'w1': ws[i], 'w2': ws[i + 1],
                                     'w3': ws[i + 2]}})) AS g
                FROM d WHERE len(ws) >= 3
            )
        ),
        bi AS (
            SELECT lang, g.a AS a, g.b AS b
            FROM (
                SELECT lang,
                       unnest(list_transform(generate_series(1, len(ws) - 1),
                              i -> {{'a': ws[i], 'b': ws[i + 1]}})) AS g
                FROM d WHERE len(ws) >= 2
            )
        ),
        c3 AS (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS c3
               FROM tri WHERE lang = 'en' GROUP BY w1, w2, w3),
        c2b AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS c2b
                FROM bi WHERE lang = 'en' GROUP BY a, b),
        ctx3 AS (SELECT w1, w2,
                        sum(CASE WHEN c3 = 1 THEN 1.0 ELSE 0.0 END) AS tk1,
                        sum(CASE WHEN c3 = 2 THEN 1.0 ELSE 0.0 END) AS tk2,
                        sum(CASE WHEN c3 >= 3 THEN 1.0 ELSE 0.0 END) AS tk3p,
                        sum(c3) AS tctot
                 FROM c3 GROUP BY w1, w2),
        ctx2 AS (SELECT a,
                        sum(CASE WHEN c2b = 1 THEN 1.0 ELSE 0.0 END) AS bk1,
                        sum(CASE WHEN c2b = 2 THEN 1.0 ELSE 0.0 END) AS bk2,
                        sum(CASE WHEN c2b >= 3 THEN 1.0 ELSE 0.0 END) AS bk3p,
                        sum(c2b) AS bctot
                 FROM c2b GROUP BY a),
        cc3 AS (SELECT sum(CASE WHEN c3 = 1 THEN 1.0 ELSE 0.0 END) AS n1,
                       sum(CASE WHEN c3 = 2 THEN 1.0 ELSE 0.0 END) AS n2,
                       sum(CASE WHEN c3 = 3 THEN 1.0 ELSE 0.0 END) AS n3,
                       sum(CASE WHEN c3 = 4 THEN 1.0 ELSE 0.0 END) AS n4
                FROM c3),
        disc3raw AS (SELECT
            CASE WHEN n1 > 0 AND n2 > 0 THEN
                1.0 - 2.0 * (n1 / (n1 + 2.0 * n2)) * n2 / n1 END AS r1,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 THEN
                2.0 - 3.0 * (n1 / (n1 + 2.0 * n2)) * n3 / n2 END AS r2,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 THEN
                3.0 - 4.0 * (n1 / (n1 + 2.0 * n2)) * n4 / n3 END AS r3
            FROM cc3),
        disc3 AS (SELECT
            CASE WHEN COALESCE(r1, 0) > 0 AND COALESCE(r2, 0) > 0
                  AND COALESCE(r3, 0) > 0 THEN r1 ELSE 0.5 END AS td1,
            CASE WHEN COALESCE(r1, 0) > 0 AND COALESCE(r2, 0) > 0
                  AND COALESCE(r3, 0) > 0 THEN r2 ELSE 1.0 END AS td2,
            CASE WHEN COALESCE(r1, 0) > 0 AND COALESCE(r2, 0) > 0
                  AND COALESCE(r3, 0) > 0 THEN r3 ELSE 1.5 END AS td3
            FROM disc3raw),
        cc2 AS (SELECT sum(CASE WHEN c2b = 1 THEN 1.0 ELSE 0.0 END) AS n1,
                       sum(CASE WHEN c2b = 2 THEN 1.0 ELSE 0.0 END) AS n2,
                       sum(CASE WHEN c2b = 3 THEN 1.0 ELSE 0.0 END) AS n3,
                       sum(CASE WHEN c2b = 4 THEN 1.0 ELSE 0.0 END) AS n4
                FROM c2b),
        disc2raw AS (SELECT
            CASE WHEN n1 > 0 AND n2 > 0 THEN
                1.0 - 2.0 * (n1 / (n1 + 2.0 * n2)) * n2 / n1 END AS r1,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 THEN
                2.0 - 3.0 * (n1 / (n1 + 2.0 * n2)) * n3 / n2 END AS r2,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 THEN
                3.0 - 4.0 * (n1 / (n1 + 2.0 * n2)) * n4 / n3 END AS r3
            FROM cc2),
        disc2 AS (SELECT
            CASE WHEN COALESCE(r1, 0) > 0 AND COALESCE(r2, 0) > 0
                  AND COALESCE(r3, 0) > 0 THEN r1 ELSE 0.5 END AS bd1,
            CASE WHEN COALESCE(r1, 0) > 0 AND COALESCE(r2, 0) > 0
                  AND COALESCE(r3, 0) > 0 THEN r2 ELSE 1.0 END AS bd2,
            CASE WHEN COALESCE(r1, 0) > 0 AND COALESCE(r2, 0) > 0
                  AND COALESCE(r3, 0) > 0 THEN r3 ELSE 1.5 END AS bd3
            FROM disc2raw),
        bt AS (SELECT DISTINCT a, b FROM bi WHERE lang = 'en'),
        cont AS (SELECT b, CAST(count(*) AS DOUBLE) AS cont
                 FROM bt GROUP BY b),
        scal AS (SELECT CAST(count(*) AS DOUBLE) AS ncc,
                        CAST(count(DISTINCT b) AS DOUBLE) AS vc
                 FROM bt),
        s AS (
            SELECT tri.doc_id, tri.lang,
                   -ln(
                     CASE WHEN COALESCE(ctx3.tctot, 0) > 0 THEN
                       greatest(COALESCE(c3.c3, 0) -
                           (CASE WHEN COALESCE(c3.c3, 0) >= 3 THEN disc3.td3
                                 WHEN COALESCE(c3.c3, 0) = 2 THEN disc3.td2
                                 ELSE disc3.td1 END), 0) / ctx3.tctot
                       + ((disc3.td1 * ctx3.tk1 + disc3.td2 * ctx3.tk2
                           + disc3.td3 * ctx3.tk3p) / ctx3.tctot) *
                         (CASE WHEN COALESCE(ctx2.bctot, 0) > 0 THEN
                            greatest(COALESCE(c2b.c2b, 0) -
                                (CASE WHEN COALESCE(c2b.c2b, 0) >= 3
                                      THEN disc2.bd3
                                      WHEN COALESCE(c2b.c2b, 0) = 2
                                      THEN disc2.bd2
                                      ELSE disc2.bd1 END), 0) / ctx2.bctot
                            + ((disc2.bd1 * ctx2.bk1 + disc2.bd2 * ctx2.bk2
                                + disc2.bd3 * ctx2.bk3p) / ctx2.bctot) *
                              ((COALESCE(cont.cont, 0) + 0.5)
                               / (scal.ncc + 0.5 * (scal.vc + 1)))
                          ELSE (COALESCE(cont.cont, 0) + 0.5)
                               / (scal.ncc + 0.5 * (scal.vc + 1)) END)
                     WHEN COALESCE(ctx2.bctot, 0) > 0 THEN
                       greatest(COALESCE(c2b.c2b, 0) -
                           (CASE WHEN COALESCE(c2b.c2b, 0) >= 3
                                 THEN disc2.bd3
                                 WHEN COALESCE(c2b.c2b, 0) = 2
                                 THEN disc2.bd2
                                 ELSE disc2.bd1 END), 0) / ctx2.bctot
                       + ((disc2.bd1 * ctx2.bk1 + disc2.bd2 * ctx2.bk2
                           + disc2.bd3 * ctx2.bk3p) / ctx2.bctot) *
                         ((COALESCE(cont.cont, 0) + 0.5)
                          / (scal.ncc + 0.5 * (scal.vc + 1)))
                     ELSE (COALESCE(cont.cont, 0) + 0.5)
                          / (scal.ncc + 0.5 * (scal.vc + 1)) END) AS nll
            FROM tri
            LEFT JOIN c3 ON tri.w1 = c3.w1 AND tri.w2 = c3.w2
                        AND tri.w3 = c3.w3
            LEFT JOIN ctx3 ON tri.w1 = ctx3.w1 AND tri.w2 = ctx3.w2
            LEFT JOIN c2b ON tri.w2 = c2b.a AND tri.w3 = c2b.b
            LEFT JOIN ctx2 ON tri.w2 = ctx2.a
            LEFT JOIN cont ON tri.w3 = cont.b
            CROSS JOIN scal CROSS JOIN disc3 CROSS JOIN disc2
        )
        SELECT doc_id, lang,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               round(avg(nll), 6) AS avg_nll,
               round(exp(avg(nll)), 4) AS ppl
        FROM s GROUP BY doc_id, lang
    """,
    "source_drift_ks": f"""
        WITH d AS (
            SELECT source,
                   CAST(least(len({_TOKS}), 200) AS BIGINT) AS b
            FROM documents
        ),
        src_counts AS (
            SELECT source, b, CAST(count(*) AS DOUBLE) AS c
            FROM d GROUP BY source, b
        ),
        tot_src AS (
            SELECT source, CAST(count(*) AS DOUBLE) AS tot
            FROM d GROUP BY source
        ),
        glob_counts AS (
            SELECT b, CAST(count(*) AS DOUBLE) AS g FROM d GROUP BY b
        ),
        total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
        spine AS (SELECT DISTINCT b AS t FROM d),
        src_cdf_raw AS (
            SELECT source, t, sum(c) AS cum_c
            FROM src_counts JOIN spine ON b <= t
            GROUP BY source, t
        ),
        grid AS (SELECT source, t FROM tot_src CROSS JOIN spine),
        src_cdf AS (
            SELECT grid.source, grid.t,
                   COALESCE(src_cdf_raw.cum_c, 0) AS cum_c
            FROM grid LEFT JOIN src_cdf_raw
              ON grid.source = src_cdf_raw.source AND grid.t = src_cdf_raw.t
        ),
        glob_cdf AS (
            SELECT t, sum(g) AS cum_g
            FROM glob_counts JOIN spine ON b <= t
            GROUP BY t
        )
        SELECT src_cdf.source,
               CAST(max(tot) AS BIGINT) AS n_docs,
               round(max(abs(cum_c / tot - cum_g / n)), 6) AS ks_distance
        FROM src_cdf
        JOIN glob_cdf USING (t)
        JOIN tot_src ON src_cdf.source = tot_src.source
        CROSS JOIN total
        GROUP BY src_cdf.source
    """,
    "zipf_slope_fit": f"""
        WITH toks AS (
            SELECT lang, unnest({_TOKS_L}) AS w FROM documents
        ),
        freq AS (
            SELECT lang, w, CAST(count(*) AS DOUBLE) AS freq
            FROM toks GROUP BY lang, w
        ),
        ranked AS (
            SELECT lang, freq,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY freq DESC, w ASC) AS rank
            FROM freq
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_terms,
               round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope
        FROM ranked WHERE rank <= 200 GROUP BY lang
    """,
    "quality_classifier_linear": f"""
        SELECT doc_id,
               CAST(CASE WHEN list_contains({_TOKS_L}, 'vector')
                    THEN 1 ELSE 0 END AS BIGINT) AS is_target,
               CAST(CASE WHEN list_contains({_TOKS_L}, 'vector')
                    THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
        FROM documents
    """,
    "kneser_ney_quality_score": f"""
        WITH d AS (
            SELECT doc_id, lang, {_TOKS} AS ws FROM documents
        ),
        tri AS (
            SELECT doc_id, lang, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3
            FROM (
                SELECT doc_id, lang,
                       unnest(list_transform(generate_series(1, len(ws) - 2),
                              i -> {{'w1': ws[i], 'w2': ws[i + 1],
                                     'w3': ws[i + 2]}})) AS g
                FROM d WHERE len(ws) >= 3
            )
        ),
        bi AS (
            SELECT lang, g.a AS a, g.b AS b
            FROM (
                SELECT lang,
                       unnest(list_transform(generate_series(1, len(ws) - 1),
                              i -> {{'a': ws[i], 'b': ws[i + 1]}})) AS g
                FROM d WHERE len(ws) >= 2
            )
        ),
        c3 AS (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS c3
               FROM tri WHERE lang = 'en' GROUP BY w1, w2, w3),
        c2ctx AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2ctx
                  FROM tri WHERE lang = 'en' GROUP BY w1, w2),
        n3f AS (SELECT w1, w2, CAST(count(DISTINCT w3) AS DOUBLE) AS n3f
                FROM tri WHERE lang = 'en' GROUP BY w1, w2),
        c2b AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS c2b
                FROM bi WHERE lang = 'en' GROUP BY a, b),
        c1ctx AS (SELECT a, CAST(count(*) AS DOUBLE) AS c1ctx
                  FROM bi WHERE lang = 'en' GROUP BY a),
        n2f AS (SELECT a, CAST(count(DISTINCT b) AS DOUBLE) AS n2f
                FROM bi WHERE lang = 'en' GROUP BY a),
        bt AS (SELECT DISTINCT a, b FROM bi WHERE lang = 'en'),
        cont AS (SELECT b, CAST(count(*) AS DOUBLE) AS cont
                 FROM bt GROUP BY b),
        scal AS (SELECT CAST(count(*) AS DOUBLE) AS ncc,
                        CAST(count(DISTINCT b) AS DOUBLE) AS vc
                 FROM bt),
        s AS (
            SELECT tri.doc_id, tri.lang,
                   -ln(
                     CASE WHEN COALESCE(c2ctx.c2ctx, 0) > 0 THEN
                       (greatest(COALESCE(c3.c3, 0) - 0.75, 0)
                        + 0.75 * n3f.n3f *
                          (CASE WHEN COALESCE(c1ctx.c1ctx, 0) > 0 THEN
                             (greatest(COALESCE(c2b.c2b, 0) - 0.75, 0)
                              + 0.75 * n2f.n2f *
                                ((COALESCE(cont.cont, 0) + 0.5)
                                 / (scal.ncc + 0.5 * (scal.vc + 1))))
                             / c1ctx.c1ctx
                           ELSE (COALESCE(cont.cont, 0) + 0.5)
                                / (scal.ncc + 0.5 * (scal.vc + 1)) END))
                       / c2ctx.c2ctx
                     WHEN COALESCE(c1ctx.c1ctx, 0) > 0 THEN
                       (greatest(COALESCE(c2b.c2b, 0) - 0.75, 0)
                        + 0.75 * n2f.n2f *
                          ((COALESCE(cont.cont, 0) + 0.5)
                           / (scal.ncc + 0.5 * (scal.vc + 1))))
                       / c1ctx.c1ctx
                     ELSE (COALESCE(cont.cont, 0) + 0.5)
                          / (scal.ncc + 0.5 * (scal.vc + 1)) END) AS nll
            FROM tri
            LEFT JOIN c3 ON tri.w1 = c3.w1 AND tri.w2 = c3.w2
                        AND tri.w3 = c3.w3
            LEFT JOIN c2ctx ON tri.w1 = c2ctx.w1 AND tri.w2 = c2ctx.w2
            LEFT JOIN n3f ON tri.w1 = n3f.w1 AND tri.w2 = n3f.w2
            LEFT JOIN c2b ON tri.w2 = c2b.a AND tri.w3 = c2b.b
            LEFT JOIN c1ctx ON tri.w2 = c1ctx.a
            LEFT JOIN n2f ON tri.w2 = n2f.a
            LEFT JOIN cont ON tri.w3 = cont.b
            CROSS JOIN scal
        )
        SELECT doc_id, lang,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               round(avg(nll), 6) AS avg_nll,
               round(exp(avg(nll)), 4) AS ppl
        FROM s GROUP BY doc_id, lang
    """,
    "dsir_importance_select": f"""
        WITH d AS (
            SELECT doc_id, lang, source, {_TOKS} AS ws FROM documents
        ),
        g AS (
            SELECT doc_id, lang, source,
                   unnest(list_concat(ws,
                       CASE WHEN len(ws) >= 2 THEN
                           list_transform(generate_series(1, len(ws) - 1),
                                          i -> ws[i] || ' ' || ws[i + 1])
                       ELSE ws[1:0] END)) AS g
            FROM d
        ),
        f AS (
            SELECT doc_id, lang, source,
                   (instr('0123456789abcdef', substring(md5(g), 1, 1)) - 1)
                       * 256
                 + (instr('0123456789abcdef', substring(md5(g), 2, 1)) - 1)
                       * 16
                 + (instr('0123456789abcdef', substring(md5(g), 3, 1)) - 1)
                       AS b
            FROM g
        ),
        s AS (
            SELECT b,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS ct,
                   CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS cr
            FROM f GROUP BY b
        ),
        t AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM s),
        l AS (
            SELECT b, ln((ct + 0.5) / (nt + 2048.0))
                    - ln((cr + 0.5) / (nr + 2048.0)) AS lam
            FROM s CROSS JOIN t
        ),
        sc AS (
            SELECT f.doc_id, f.lang, f.source,
                   CAST(count(*) AS BIGINT) AS n_feats,
                   round(sum(l.lam), 6) AS dsir_score
            FROM f JOIN l USING (b)
            WHERE f.lang <> 'en'
            GROUP BY f.doc_id, f.lang, f.source
        )
        SELECT doc_id, lang, source, n_feats, dsir_score
        FROM sc ORDER BY dsir_score DESC, doc_id LIMIT 50
    """,
    "temperature_mix_sample": """
        WITH counts AS (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang
        ),
        tot AS (SELECT sum(sqrt(CAST(n AS DOUBLE))) AS z FROM counts),
        quota AS (
            SELECT lang,
                   least(
                       greatest(1, CAST(floor(
                           200.0 * sqrt(CAST(n AS DOUBLE)) / z + 0.5)
                           AS INT)),
                       CAST(n AS INT)) AS q
            FROM counts CROSS JOIN tot
        ),
        ranked AS (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                   ) AS mix_rank
            FROM documents
        )
        SELECT r.doc_id, r.lang, CAST(r.mix_rank AS BIGINT) AS mix_rank
        FROM ranked r JOIN quota qu ON r.lang = qu.lang
        WHERE r.mix_rank <= qu.q
    """,
    "language_balanced_sample": """
        SELECT doc_id, lang, sample_rank FROM (
            SELECT doc_id, lang,
                   CAST(row_number() OVER (
                        PARTITION BY lang
                        ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                   ) AS INT) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= 40
    """,
    "corpus_shuffle_deterministic": """
        WITH d AS (
            SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                   CAST(strpos('0123456789abcdef',
                        substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                        AS INT) AS shard
            FROM documents
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (
                    PARTITION BY shard ORDER BY h ASC, doc_id ASC
               ) AS INT) AS shard_pos
        FROM d
    """,
    "exact_substring_remove": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 1
        ),
        chunks AS (
            SELECT doc_id, ci,
                   array_to_string(ws[ci * 8 + 1 : ci * 8 + 8], ' ') AS chunk
            FROM (SELECT doc_id, ws,
                         unnest(generate_series(
                             0, CAST(floor((len(ws) - 1) / 8) AS BIGINT)))
                             AS ci
                  FROM d)
        ),
        cand AS (SELECT DISTINCT md5(chunk) AS h, doc_id FROM chunks),
        dup AS (SELECT h FROM cand GROUP BY h HAVING count(*) >= 2),
        kept AS (
            SELECT doc_id, ci, chunk FROM chunks
            WHERE md5(chunk) NOT IN (SELECT h FROM dup)
        ),
        rebuilt AS (
            SELECT doc_id,
                   string_agg(chunk, ' ' ORDER BY ci) AS new_text,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY doc_id
        ),
        totals AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
            FROM chunks GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_chunks,
               CAST(t.n_chunks - COALESCE(r.n_kept, 0) AS BIGINT)
                   AS n_removed,
               md5(COALESCE(r.new_text, '')) AS text_md5
        FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    """,
    "dup_chunk_ratio": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS} AS ws FROM documents
            WHERE len({_TOKS}) >= 1
        ),
        c AS (
            SELECT doc_id,
                   md5(array_to_string(
                       list_slice(ws, ci * 8 + 1, ci * 8 + 8), ' '))
                       AS chunk_md5
            FROM (SELECT doc_id, ws,
                         unnest(generate_series(
                             0, CAST(floor((len(ws) - 1) / 8) AS INT))) AS ci
                  FROM d)
        ),
        dup AS (
            SELECT chunk_md5,
                   CAST(CASE WHEN count(DISTINCT doc_id) > 1
                        THEN 1 ELSE 0 END AS INT) AS is_dup
            FROM c GROUP BY chunk_md5
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(is_dup) AS BIGINT) AS n_dup_chunks,
               CAST(sum(is_dup) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS dup_frac
        FROM c JOIN dup USING (chunk_md5)
        GROUP BY doc_id
    """,
    "text_quality_score": _QUALITY_CTE + """
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END
                   AS stopword_ratio,
               0.4 * least(n_chars / 500.0, 1.0)
             + 0.4 * least((CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) * 5.0,
                           1.0)
             + 0.1 * (1.0 - least(punct / greatest(n_chars, 1.0) * 10.0, 1.0))
             + 0.1 * (1.0 - least(digits / greatest(n_chars, 1.0) * 10.0, 1.0))
                   AS quality_score
        FROM feats
    """,
    "lang_id_heuristic": f"""
        WITH scores AS (SELECT doc_id, {_LANG_SCORES} FROM documents),
        best AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS b FROM scores)
        SELECT doc_id,
               CASE WHEN b = 0 THEN 'und'
                    WHEN s_de = b THEN 'de'
                    WHEN s_en = b THEN 'en'
                    WHEN s_es = b THEN 'es'
                    WHEN s_fr = b THEN 'fr'
                    ELSE 'und' END AS lang_pred
        FROM best
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               md5(array_to_string(list_slice({_TOKS}, 1, 8), ' ')) AS fingerprint
        FROM documents
    """,
    "lang_confusion_matrix": f"""
        WITH scores AS (SELECT doc_id, lang, {_LANG_SCORES} FROM documents),
        best AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS b FROM scores),
        preds AS (
            SELECT lang,
                   CASE WHEN b = 0 THEN 'und'
                        WHEN s_de = b THEN 'de'
                        WHEN s_en = b THEN 'en'
                        WHEN s_es = b THEN 'es'
                        WHEN s_fr = b THEN 'fr'
                        ELSE 'und' END AS lang_pred
            FROM best
        ),
        cells AS (
            SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
            FROM preds GROUP BY lang, lang_pred
        ),
        totals AS (SELECT lang, sum(n_docs) AS total FROM cells GROUP BY lang)
        SELECT c.lang, c.lang_pred, c.n_docs,
               round(CAST(c.n_docs AS DOUBLE) / t.total, 6) AS share
        FROM cells c JOIN totals t ON c.lang = t.lang
    """,
    "training_data_pipeline": _QUALITY_CTE.rstrip() + f""",
        lang_scores AS (SELECT doc_id, {_LANG_SCORES} FROM documents),
        lang_best AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS b FROM lang_scores),
        langs AS (
            SELECT doc_id,
                   CASE WHEN b = 0 THEN 'und'
                        WHEN s_de = b THEN 'de'
                        WHEN s_en = b THEN 'en'
                        WHEN s_es = b THEN 'es'
                        WHEN s_fr = b THEN 'fr'
                        ELSE 'und' END AS lang_pred
            FROM lang_best
        ),
        scored AS (
            SELECT f.doc_id,
                   CAST(f.n_tokens AS BIGINT) AS n_tokens,
                   0.4 * least(f.n_chars / 500.0, 1.0)
                 + 0.4 * least((CASE WHEN f.n_tokens = 0 THEN 0.0
                                ELSE CAST(f.n_stop AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) END) * 5.0,
                               1.0)
                 + 0.1 * (1.0 - least(f.punct / greatest(f.n_chars, 1.0) * 10.0, 1.0))
                 + 0.1 * (1.0 - least(f.digits / greatest(f.n_chars, 1.0) * 10.0, 1.0))
                       AS quality_score,
                   l.lang_pred,
                   md5(array_to_string(list_slice({_TOKS}, 1, 8), ' ')) AS fp
            FROM feats f
            JOIN langs l USING (doc_id)
            JOIN documents USING (doc_id)
        ),
        kept AS (
            SELECT * FROM scored WHERE quality_score >= 0.2
        ),
        deduped AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                FROM kept) t
            WHERE rn = 1
        )
        SELECT lang_pred,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               MIN(quality_score) AS min_quality,
               MAX(quality_score) AS max_quality
        FROM deduped
        GROUP BY lang_pred
        ORDER BY lang_pred
    """,
    "rolling_hash_fingerprint": f"""
        SELECT doc_id,
               CAST(list_reduce(
                   list_prepend(CAST(7 AS BIGINT),
                       list_transform({_TOKS_L},
                           t -> CAST(length(t) * 131 + ascii(t) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS rhash
        FROM documents
    """,
    "dedup_exact": """
        SELECT doc_id, lang, n_chars FROM (
            SELECT doc_id, lang, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY lang, n_chars ORDER BY doc_id) AS rn
            FROM documents) t
        WHERE rn = 1
    """,
    "dedup_fingerprint": f"""
        SELECT doc_id FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(array_to_string(list_slice({_TOKS}, 1, 8), ' '))
                       ORDER BY doc_id) AS rn
            FROM documents) t
        WHERE rn = 1
    """,
    "dedup_ngram_jaccard": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id < 150
        ),
        sh0 AS (
            SELECT DISTINCT doc_id, s
            FROM toks, UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS u(s)
        ),
        -- mirror of max_shingle_df=12: drop shingles hotter than 12 docs
        sh AS (
            SELECT doc_id, s FROM sh0
            WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 12)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, n_common,
               round(CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE), 6)
                   AS jaccard
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.1
    """,
    "bitext_margin_mine": f"""
        WITH b AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {_BITEXT_BOUND}
        ), norms AS (
            SELECT vec_id,
                   (SELECT SUM(CAST(embedding[i] AS DECIMAL(18,9))
                               * CAST(embedding[i] AS DECIMAL(18,9)))
                    FROM UNNEST(generate_series(1, len(embedding)))
                         AS t(i)) AS n2
            FROM b
        ), pairs AS MATERIALIZED (
            SELECT q.vec_id AS qid, c.vec_id AS bid,
                   CAST((SELECT SUM(CAST(q.embedding[i] AS DECIMAL(18,9))
                                    * CAST(c.embedding[i] AS DECIMAL(18,9)))
                         FROM UNNEST(generate_series(1, len(q.embedding)))
                              AS t(i)) AS DOUBLE)
                   / (sqrt(CAST(nq.n2 AS DOUBLE))
                      * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos
            FROM b q JOIN b c
                 ON q.vec_id % 2 = 0 AND c.vec_id % 2 = 1
            JOIN norms nq ON q.vec_id = nq.vec_id
            JOIN norms nc ON c.vec_id = nc.vec_id
        ), pd AS MATERIALIZED (
            SELECT qid, bid, cos, CAST(cos AS DECIMAL(20,12)) AS cos_d,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, bid ASC) AS rq,
                   row_number() OVER (PARTITION BY bid
                                      ORDER BY cos DESC, qid ASC) AS rb
            FROM pairs
        ), qm AS (
            SELECT qid, CAST(sum(cos_d) AS DOUBLE) / {_BITEXT_K} AS q_nbhd
            FROM pd WHERE rq <= {_BITEXT_K} GROUP BY qid
        ), bm AS (
            SELECT bid, CAST(sum(cos_d) AS DOUBLE) / {_BITEXT_K} AS b_nbhd
            FROM pd WHERE rb <= {_BITEXT_K} GROUP BY bid
        ), scored AS (
            SELECT p.qid, p.bid, p.cos,
                   p.cos / ((qm.q_nbhd + bm.b_nbhd) / 2) AS margin
            FROM pairs p
            JOIN qm ON p.qid = qm.qid
            JOIN bm ON p.bid = bm.bid
        ), best AS (
            SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY margin DESC, bid ASC) AS rn
            FROM scored
        )
        SELECT qid, bid AS best_bid,
               round(cos, 6) AS cos_r6,
               round(margin, 4) AS margin_r4,
               margin > 1.0 AS mined
        FROM best WHERE rn = 1 ORDER BY qid
    """,
    "embedding_neardup": """
        WITH b AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
        ),
        norms AS (
            SELECT vec_id,
                   (SELECT SUM(CAST(embedding[i] AS DECIMAL(18,9)) * CAST(embedding[i] AS DECIMAL(18,9)))
                    FROM UNNEST(generate_series(1, len(embedding))) AS t(i)) AS n2
            FROM b
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
                   (SELECT SUM(CAST(a.embedding[i] AS DECIMAL(18,9)) * CAST(bb.embedding[i] AS DECIMAL(18,9)))
                    FROM UNNEST(generate_series(1, len(a.embedding))) AS t(i)) AS dot
            FROM b a JOIN b bb ON a.vec_id < bb.vec_id
        )
        SELECT id_a, id_b,
               round(CAST(dot AS DOUBLE) /
                     (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_sim
        FROM pairs
        JOIN norms na ON id_a = na.vec_id
        JOIN norms nb ON id_b = nb.vec_id
        WHERE CAST(dot AS DOUBLE) /
              (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.3
    """,
    "matryoshka_overlap_probe": """
        WITH dims AS (SELECT * FROM (VALUES (8), (16), (32)) AS t(d)),
        fnorms AS (
            SELECT vec_id, embedding,
                   (SELECT SUM(CAST(embedding[i] AS DECIMAL(18,9))
                               * CAST(embedding[i] AS DECIMAL(18,9)))
                    FROM UNNEST(generate_series(1, len(embedding))) AS t(i))
                       AS n2
            FROM embeddings
        ),
        fscored AS (
            SELECT q.vec_id AS qid, c.vec_id AS nid,
                   CAST((SELECT SUM(CAST(q.embedding[i] AS DECIMAL(18,9))
                                    * CAST(c.embedding[i] AS DECIMAL(18,9)))
                         FROM UNNEST(generate_series(1, len(q.embedding)))
                             AS t(i)) AS DOUBLE)
                   / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
                       AS cos
            FROM fnorms q JOIN fnorms c
              ON q.vec_id < 8 AND c.vec_id != q.vec_id
        ),
        ftop AS (
            SELECT qid, nid FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos DESC, nid) AS rank FROM fscored) t
            WHERE rank <= 5
        ),
        sliced AS (
            SELECT d, vec_id, embedding[1:d] AS tv FROM embeddings, dims
        ),
        tnorms AS (
            SELECT d, vec_id, tv,
                   (SELECT SUM(CAST(tv[i] AS DECIMAL(18,9))
                               * CAST(tv[i] AS DECIMAL(18,9)))
                    FROM UNNEST(generate_series(1, len(tv))) AS t(i)) AS n2
            FROM sliced
        ),
        tscored AS (
            SELECT q.d, q.vec_id AS qid, c.vec_id AS nid,
                   CAST((SELECT SUM(CAST(q.tv[i] AS DECIMAL(18,9))
                                    * CAST(c.tv[i] AS DECIMAL(18,9)))
                         FROM UNNEST(generate_series(1, len(q.tv)))
                             AS t(i)) AS DOUBLE)
                   / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
                       AS cos
            FROM tnorms q JOIN tnorms c
              ON q.d = c.d AND q.vec_id < 8 AND c.vec_id != q.vec_id
        ),
        ttop AS (
            SELECT d, qid, nid FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY d, qid
                    ORDER BY cos DESC, nid) AS rank FROM tscored) t
            WHERE rank <= 5
        )
        SELECT t.qid, CAST(t.d AS BIGINT) AS trunc_dim,
               CAST(count(f.nid) AS BIGINT) AS overlap5
        FROM ttop t LEFT JOIN ftop f ON t.qid = f.qid AND t.nid = f.nid
        GROUP BY t.qid, t.d
        ORDER BY t.qid, trunc_dim
    """,
    "ann_topk_bruteforce": """
        WITH norms AS (
            SELECT vec_id, embedding,
                   (SELECT SUM(CAST(embedding[i] AS DECIMAL(18,9)) * CAST(embedding[i] AS DECIMAL(18,9)))
                    FROM UNNEST(generate_series(1, len(embedding))) AS t(i)) AS n2
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS qid, c.vec_id AS nid,
                   CAST((SELECT SUM(CAST(q.embedding[i] AS DECIMAL(18,9)) * CAST(c.embedding[i] AS DECIMAL(18,9)))
                         FROM UNNEST(generate_series(1, len(q.embedding))) AS t(i)) AS DOUBLE)
                   / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
            FROM norms q JOIN norms c ON q.vec_id < 8 AND c.vec_id != q.vec_id
        )
        SELECT qid, nid, round(cos, 6) AS cos_sim,
               CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
              FROM scored) t
        WHERE rank <= 5
    """,
    "multimodal_audio_windows": """
        WITH a AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents WHERE doc_id % 3 = 1
        ),
        w AS (
            SELECT doc_id, text, n, widx
            FROM a, unnest(generate_series(0, (n + 255) // 256 - 1)) AS t(widx)
        )
        SELECT doc_id,
               CAST(widx AS BIGINT) AS win_idx,
               CAST(widx * 256 AS BIGINT) AS win_off,
               CAST(least(256, n - widx * 256) AS BIGINT) AS win_len,
               CAST((SELECT COALESCE(SUM(ascii(substring(text, widx * 256 + i, 1))), 0)
                     FROM unnest(generate_series(1, least(256, n - widx * 256))) AS s(i))
                   AS BIGINT) AS byte_sum
        FROM w
        ORDER BY doc_id, win_idx
    """,
    "multimodal_frame_sample": """
        WITH v AS (
            SELECT doc_id, octet_length(encode(text)) AS n
            FROM documents WHERE doc_id % 3 = 2
        ), f AS (
            SELECT doc_id, n % 30 AS n_frames, n // (n % 30) AS flen
            FROM v WHERE n % 30 <> 0
        )
        SELECT doc_id,
               CAST(idx AS BIGINT) AS frame_idx,
               CAST(idx * flen AS BIGINT) AS frame_off,
               CAST(flen AS BIGINT) AS frame_len
        FROM f, unnest(generate_series(0, n_frames - 1, 5)) AS t(idx)
        ORDER BY doc_id, frame_idx
    """,
    "multimodal_decode_meta": """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
               CAST(list_sum(list_transform(range(1, 17), i -> ascii(substr(text, i, 1)))) % 480
                    AS BIGINT) AS height,
               CAST(octet_length(encode(text)) % 30 AS BIGINT) AS n_frames
        FROM documents
    """,
    # dedup_minhash_lsh / dedup_simhash / ann_topk_lsh: engine-hash / approx
    # operators — rows-only by design; exact counterparts are oracle-checked.
}

QUERIES = {
    "dedup_exact_substring": dedup_exact_substring,
    "suffix_repeat_stats": suffix_repeat_stats,
    "suffix_substring_remove": suffix_substring_remove,
    "dedup_cc_star_chain": dedup_cc_star_chain,
    "heavy_hitters_mg": heavy_hitters_mg,
    "decontam_bloom_prefilter": decontam_bloom_prefilter,
    "moore_lewis_select": moore_lewis_select,
    "unimax_language_budget": unimax_language_budget,
    "pmi_top_pairs": pmi_top_pairs,
    "token_budget_select": token_budget_select,
    "jsonl_ingest_quarantine": jsonl_ingest_quarantine,
    "multimodal_image_headers": multimodal_image_headers,
    "multimodal_wav_headers": multimodal_wav_headers,
    "html_extract_visible_text": html_extract_visible_text,
    "multimodal_pair_dedup": multimodal_pair_dedup,
    "multimodal_phash_neardup": multimodal_phash_neardup,
    "pair_hard_negative_mine": pair_hard_negative_mine,
    "audio_transcript_rate_audit": audio_transcript_rate_audit,
    "domain_mixture_reweight": domain_mixture_reweight,
    "multimodal_caption_alignment": multimodal_caption_alignment,
    "multimodal_pixel_decode": multimodal_pixel_decode,
    "multimodal_resize_nearest": multimodal_resize_nearest,
    "multimodal_wav_pcm_decode": multimodal_wav_pcm_decode,
    "multimodal_pcm_window_energy": multimodal_pcm_window_energy,
    "multimodal_pcm_decimate": multimodal_pcm_decimate,
    "multimodal_gif_decode": multimodal_gif_decode,
    "multimodal_jpeg_decode": multimodal_jpeg_decode,
    "multimodal_g711_roundtrip": multimodal_g711_roundtrip,
    "bpe_merge_learning": bpe_merge_learning,
    "unigram_tokenizer_learning": unigram_tokenizer_learning,
    "token_count_unigram": token_count_unigram,
    "per_source_dup_rate": per_source_dup_rate,
    "dup_cluster_sizes": dup_cluster_sizes,
    "per_lang_length_stats": per_lang_length_stats,
    "tfidf_top_terms": tfidf_top_terms,
    "ngram_novelty_rate": ngram_novelty_rate,
    "repetition_filter_gopher": repetition_filter_gopher,
    "chunk_fixed_windows": chunk_fixed_windows,
    "decontam_ngram_overlap": decontam_ngram_overlap,
    "decontam_neardup_lsh": decontam_neardup_lsh,
    "vocab_top_terms": vocab_top_terms,
    "length_bucket_batching": length_bucket_batching,
    "embedding_centroids": embedding_centroids,
    "oov_rate_vs_vocab": oov_rate_vs_vocab,
    "quality_filter_c4": quality_filter_c4,
    "language_balanced_sample": language_balanced_sample,
    "temperature_mix_sample": temperature_mix_sample,
    "dsir_importance_select": dsir_importance_select,
    "ngram_lm_quality_score": ngram_lm_quality_score,
    "kneser_ney_quality_score": kneser_ney_quality_score,
    "kneser_ney_mod_quality_score": kneser_ney_mod_quality_score,
    "exact_substring_remove": exact_substring_remove,
    "quality_classifier_linear": quality_classifier_linear,
    "export_sharded_jsonl": export_sharded_jsonl,
    "ppl_bucket_split": ppl_bucket_split,
    "zipf_slope_fit": zipf_slope_fit,
    "source_drift_ks": source_drift_ks,
    "semdedup_cluster_prune": semdedup_cluster_prune,
    "corpus_shuffle_deterministic": corpus_shuffle_deterministic,
    "dup_chunk_ratio": dup_chunk_ratio,
    "token_count": token_count,
    "text_quality_score": text_quality_score,
    "lang_id_heuristic": lang_id_heuristic,
    "lang_confusion_matrix": lang_confusion_matrix,
    "token_count_bpe": token_count_bpe,
    "decontamination_anti_join": decontamination_anti_join,
    "pii_redaction": pii_redaction,
    "train_val_test_split": train_val_test_split,
    "doc_fingerprint": doc_fingerprint,
    "rolling_hash_fingerprint": rolling_hash_fingerprint,
    "dedup_exact": dedup_exact,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_cc": dedup_minhash_cc,
    "dedup_simhash": dedup_simhash,
    "embedding_neardup": embedding_neardup,
    "corpus_weighted_sample": corpus_weighted_sample,
    "sequence_packing": sequence_packing,
    "chunk_with_overlap": chunk_with_overlap,
    "epoch_repetition_plan": epoch_repetition_plan,
    "tokenizer_fertility_by_lang": tokenizer_fertility_by_lang,
    "vocab_coverage_curve": vocab_coverage_curve,
    "embedding_pca_power_iteration": embedding_pca_power_iteration,
    "embedding_quality_audit": embedding_quality_audit,
    "bitext_margin_mine": bitext_margin_mine,
    "skipgram_negative_table": skipgram_negative_table,
    "rag_retrieval_eval": rag_retrieval_eval,
    "training_data_pipeline": training_data_pipeline,
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "matryoshka_overlap_probe": matryoshka_overlap_probe,
    "ann_topk_ivf": ann_topk_ivf,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_topk_pq": ann_topk_pq,
    "ann_topk_ivfpq": ann_topk_ivfpq,
    "multimodal_decode_meta": multimodal_decode_meta,
    "multimodal_audio_windows": multimodal_audio_windows,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_resize_embed": multimodal_resize_embed,
}
