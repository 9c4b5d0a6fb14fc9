"""Text analysis operators for large-scale training-data pipelines.

All hot-path logic is JVM-side column expressions (pyspark.sql.functions /
higher-order SQL functions) — no Python UDFs — so whole-stage codegen applies
and the same plan scales to 100 TB document sets. Each operator is engineered
to be expressible in ANSI SQL for the DuckDB oracle (see queries/llmops.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_spark.session import pin

# Deterministic stopword lists (tiny on purpose: broadcast as literals into the
# plan; a production list would be a broadcast join against a dimension table).
STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "for"]
LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
    "es": ["el", "la", "los", "es"],
}


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization; empty text → empty array (not [''])."""
    return F.when(F.length(F.trim(F.col(col))) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(F.col(col)), r"\s+")
    )


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col)).cast("bigint")


def count_matches(col: str, words: list[str]) -> Column:
    """# tokens of lower(col) contained in `words` (kept as a SQL higher-order
    expression so it codegens; mirror: list_filter/list_contains in DuckDB)."""
    arr = "array(" + ", ".join(f"'{w}'" for w in words) + ")"
    return F.expr(
        f"size(filter(split(trim(lower({col})), '\\\\s+'), t -> array_contains({arr}, t)))"
    ).cast("bigint")


def stopword_ratio(col: str = "text") -> Column:
    n = token_count(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        count_matches(col, STOPWORDS).cast("double") / n.cast("double")
    )


def char_class_counts(col: str = "text") -> dict[str, Column]:
    """Punctuation / digit / uppercase counts via length-of-stripped deltas —
    pure string ops, bit-identical in any engine."""
    c = F.col(col)
    punct = (
        F.length(c) - F.length(F.translate(c, ".,!?;:", ""))
    ).cast("bigint")
    digits = (F.length(c) - F.length(F.translate(c, "0123456789", ""))).cast("bigint")
    uppers = (
        F.length(c) - F.length(F.translate(c, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", ""))
    ).cast("bigint")
    return {"punct_count": punct, "digit_count": digits, "upper_count": uppers}


def quality_score(col: str = "text") -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence -
    punctuation/digit noise. Deterministic double arithmetic."""
    n_chars = F.length(F.col(col)).cast("double")
    cc = char_class_counts(col)
    length_component = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    stop_component = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    punct_noise = F.least(cc["punct_count"].cast("double") / F.greatest(n_chars, F.lit(1.0)) * 10.0, F.lit(1.0))
    digit_noise = F.least(cc["digit_count"].cast("double") / F.greatest(n_chars, F.lit(1.0)) * 10.0, F.lit(1.0))
    return (
        F.lit(0.4) * length_component
        + F.lit(0.4) * stop_component
        + F.lit(0.1) * (F.lit(1.0) - punct_noise)
        + F.lit(0.1) * (F.lit(1.0) - digit_noise)
    )


def lang_id(col: str = "text") -> Column:
    """Marker-word language ID: argmax over per-language marker hit counts,
    deterministic tie-break by language code order; 'und' when no marker hits."""
    scores = {lang: count_matches(col, words) for lang, words in LANG_MARKERS.items()}
    best_score = F.greatest(*scores.values())
    result = F.lit("und")
    # reversed so earlier languages win ties (last when() wins in fold order)
    for lang in sorted(scores, reverse=True):
        result = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(result)
    return F.when(best_score == 0, F.lit("und")).otherwise(result)


def fingerprint(col: str = "text", k: int = 16) -> Column:
    """Document fingerprint: md5 of the first k normalized tokens — the
    cheap canonical-prefix fingerprint used for near-exact dedup."""
    return F.md5(F.concat_ws(" ", F.slice(tokens(col), 1, k)))


def rolling_hash(col: str = "text", base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over token lengths+first chars (order-sensitive
    document sketch). Engine-specific fold — exercised rows-only (no SQL
    oracle), like any hash whose exact value is an implementation detail."""
    return F.expr(
        f"aggregate(split(trim(lower({col})), '\\\\s+'), 7L, "
        f"(acc, t) -> pmod(acc * {base} + length(t) * 131 + ascii(t), {mod}))"
    ).cast("bigint")


def with_text_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Convenience projection used by the docs-pipeline materializations."""
    cc = char_class_counts(col)
    return df.select(
        "*",
        token_count(col).alias("n_tokens"),
        stopword_ratio(col).alias("stopword_ratio"),
        quality_score(col).alias("quality_score"),
        lang_id(col).alias("lang_pred"),
        fingerprint(col).alias("fingerprint"),
        cc["punct_count"].alias("punct_count"),
        cc["digit_count"].alias("digit_count"),
    )


def bpe_learn_merges(docs: DataFrame, k_merges: int = 12,
                     text_col: str = "text") -> list[tuple]:
    """In-engine BPE merge learning (Sennrich, Haddow, Birch 2016, "Neural
    Machine Translation of Rare Words with Subword Units", ACL — public):
    learn the top-K byte-pair merges of the corpus, the tokenizer-induction
    step a training-data pipeline runs to fit a vocabulary to ITS corpus.

    Exactly the paper's word-type algorithm, expressed as DataFrame ops:

    1. ONE corpus pass reduces to the word-type histogram (word, n) —
       vocabulary-cardinality rows, map-side combinable; every later step
       touches only this tiny table (the reason BPE training is cheap even
       at 100 TB: the corpus is scanned once).
    2. Each round: explode adjacent symbol pairs weighted by word count,
       aggregate pair counts (map-side partials), take the argmax pair
       (count desc, then lexicographic — fully deterministic), and apply
       the merge to every word's symbol array via a left-to-right
       aggregate() fold (non-overlapping, leftmost-first — the paper's
       replacement rule) — pure codegen'd expressions, zero UDFs.
       The 1-row argmax collect per round is a bounded driver read
       (K reads total); symbol tables localCheckpoint per round so lineage
       stays flat.

    Returns [(rank, left, right, pair_count), ...] — the merge table a
    tokenizer would persist."""
    spark = docs.sparkSession
    words = (docs
             .select(F.explode(tokens(text_col)).alias("w"))
             .where(F.length("w") > 0)
             .groupBy("w").agg(F.count("*").alias("n")))
    seqs = pin(words.select(
        "n",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .alias("seq"),
    ), eager=False)
    merges: list[tuple] = []
    for rank in range(1, k_merges + 1):
        pairs = (seqs
                 .where(F.size("seq") >= 2)
                 .select("n", F.expr(
                     "explode(transform(sequence(1, size(seq) - 1), "
                     "i -> struct(element_at(seq, i) AS a, "
                     "element_at(seq, i + 1) AS b)))").alias("p"))
                 .groupBy("p.a", "p.b").agg(F.sum("n").alias("c")))
        top = (pairs.orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
               .limit(1).collect())
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((rank, a, b, c))
        qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
        qm = (a + b).replace("'", "\\'")
        # leftmost-first non-overlapping replacement: fold the symbol array,
        # merging when the accumulated tail is `a` and the next symbol is
        # `b` (a freshly-merged tail spells a+b, so it can never re-merge)
        seqs = pin(seqs.select(
            "n",
            F.expr(
                "aggregate(seq, CAST(array() AS array<string>), "
                f"(acc, x) -> CASE WHEN size(acc) > 0 "
                f"AND element_at(acc, -1) = '{qa}' AND x = '{qb}' "
                f"THEN concat(slice(acc, 1, size(acc) - 1), array('{qm}')) "
                "ELSE concat(acc, array(x)) END)").alias("seq"),
        ), eager=False)  # materialized by next round's argmax
    # keep the session tidy: checkpoints release with the DataFrames
    _ = spark
    return merges


def unigram_train(docs: DataFrame, vocab_size: int = 60,
                  seed_size: int = 200, n_iters: int = 3,
                  max_piece_len: int = 6,
                  text_col: str = "text") -> list[tuple]:
    """In-engine unigram-LM tokenizer training (Kudo 2018, "Subword
    Regularization", ACL — the SentencePiece unigram algorithm), in its
    deterministic hard-EM (Viterbi) variant:

    1. ONE corpus pass reduces to the word-type histogram — like BPE,
       every later step touches vocabulary-cardinality rows only, which
       is why tokenizer induction stays cheap at 100 TB.
    2. Seed vocabulary: every substring of length ≤ ``max_piece_len``
       exploded from the word types as a codegen'd expression, counts
       aggregated with map-side partials; top ``seed_size`` multi-char
       pieces (count desc, piece asc — deterministic) plus ALL single
       characters (kept forever so segmentation is always total).
    3. EM rounds: the current vocabulary (bounded: seed_size + alphabet)
       broadcasts into an Arrow-batched mapInPandas kernel that Viterbi-
       segments each word type (ties → longer-first, deterministic) and
       emits per-piece counts weighted by word frequency; ONE keyed
       aggregate re-estimates counts; multi-char pieces outside the top
       ``vocab_size`` are pruned (hard-EM's prune step), characters are
       floored at count 1 (closure smoothing).

    Per-round driver reads are vocabulary-bounded collects (the same
    bounded-collect contract as bpe_learn_merges' argmax reads).
    Returns [(rank, piece, count), ...] — the vocabulary a tokenizer
    persists; the full sequence is pinned against an independent
    pure-Python reference in tests."""
    import math

    words = pin(docs
                .select(F.explode(tokens(text_col)).alias("w"))
                .where(F.length("w") > 0)
                .groupBy("w").agg(F.count("*").alias("n")))
    subs = words.select(
        "n",
        F.explode(F.expr(
            f"flatten(transform(sequence(1, length(w)), s -> "
            f"transform(sequence(1, least({int(max_piece_len)}, "
            f"length(w) - s + 1)), l -> substring(w, s, l))))"
        )).alias("piece"))
    counts = subs.groupBy("piece").agg(F.sum("n").alias("cnt"))
    chars = counts.filter(F.length("piece") == 1).collect()
    multi = (counts.filter(F.length("piece") > 1)
             .orderBy(F.col("cnt").desc(), "piece")
             .limit(int(seed_size)).collect())
    vocab = {r["piece"]: int(r["cnt"]) for r in chars}
    char_set = set(vocab)
    for r in multi:
        vocab[r["piece"]] = int(r["cnt"])

    mpl = int(max_piece_len)
    viterbi = _make_unigram_viterbi()

    for _ in range(int(n_iters)):
        bvocab = dict(vocab)

        def seg_batches(it):
            import math as _m

            import pandas as _pd

            total = float(sum(bvocab.values()))
            logp = {p: _m.log(c / total) for p, c in bvocab.items()}
            for pdf in it:
                op, on = [], []
                for w, n in zip(pdf["w"], pdf["n"]):
                    for p in viterbi(w, logp, mpl):
                        op.append(p)
                        on.append(int(n))
                yield _pd.DataFrame({"piece": op, "n": on})

        got = {r["piece"]: int(r["cnt"]) for r in
               words.mapInPandas(seg_batches, "piece string, n long")
               .groupBy("piece").agg(F.sum("n").alias("cnt")).collect()}
        vocab = {c: got.get(c, 0) + 1 for c in char_set}
        keep = sorted(((cnt, p) for p, cnt in got.items()
                       if len(p) > 1 and cnt > 0),
                      key=lambda t: (-t[0], t[1]))[:int(vocab_size)]
        for cnt, p in keep:
            vocab[p] = cnt
    ranked = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    _ = math
    return [(i + 1, p, c) for i, (p, c) in enumerate(ranked)]


def _make_unigram_viterbi():
    """Factory for the Viterbi segmenter (closure-local so cloudpickle
    ships it BY VALUE into executor closures — module globals pickle by
    reference and executors may not have dbt_spark importable)."""

    def viterbi(word, logp, max_len):
        """Best segmentation of ``word`` under piece log-probs:
        left-to-right DP maximizing the summed log-prob; ties broken for
        the LONGER last piece (smaller split point) — deterministic.
        Single characters are always in the vocabulary, so a path always
        exists."""
        n = len(word)
        best = [None] * (n + 1)  # (score, start_of_last_piece)
        best[0] = (0.0, -1)
        for j in range(1, n + 1):
            cand = None
            for i in range(max(0, j - max_len), j):
                if best[i] is None:
                    continue
                lp = logp.get(word[i:j])
                if lp is None:
                    continue
                sc = best[i][0] + lp
                if (cand is None or sc > cand[0] + 1e-12
                        or (abs(sc - cand[0]) <= 1e-12 and i < cand[1])):
                    cand = (sc, i)
            best[j] = cand
        pieces = []
        j = n
        while j > 0:
            i = best[j][1]
            pieces.append(word[i:j])
            j = i
        pieces.reverse()
        return pieces

    return viterbi


def unigram_segment_counts(docs: DataFrame, vocab: "list[tuple]",
                           max_piece_len: int = 6,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """APPLY a trained unigram vocabulary (unigram_train output) to the
    corpus: per-document Viterbi token counts — the tokenizer-cost pass a
    training pipeline runs before packing/budgeting. The bounded
    vocabulary broadcasts into an Arrow-batched kernel; one pass over the
    corpus, no shuffle. Returns (id, n_words, n_pieces, n_unique_pieces);
    pinned against the reference segmenter in tests."""
    import math

    probs = {p: c for _, p, c in vocab}
    total = float(sum(probs.values()))
    logp = {p: math.log(c / total) for p, c in probs.items()}
    viterbi = _make_unigram_viterbi()
    mpl = int(max_piece_len)

    def batches(it):
        import pandas as _pd

        for pdf in it:
            out = {"id": [], "n_words": [], "n_pieces": [],
                   "n_unique_pieces": []}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = (text or "").split()
                pieces = []
                for w in words:
                    pieces.extend(viterbi(w, logp, mpl))
                out["id"].append(int(did))
                out["n_words"].append(len(words))
                out["n_pieces"].append(len(pieces))
                out["n_unique_pieces"].append(len(set(pieces)))
            yield _pd.DataFrame(out)

    return docs.select(id_col, text_col).mapInPandas(
        batches,
        schema="id long, n_words long, n_pieces long, n_unique_pieces long"
    ).withColumnRenamed("id", id_col)
