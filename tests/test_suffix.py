"""Distributed suffix array (functions/suffix.py): differential fuzz vs a
pure-python suffix sort + adversarial structure cases + plan hygiene.

REPLAY family #12: random multi-document corpora (small alphabet to force
deep ties, planted cross-document spans, duplicate documents) through the
REAL prefix-doubling pipeline vs a brute-force python oracle (sort every
truncated suffix, LCP with sorted neighbors). Family base 230k rotated by
DBT_SPARK_FUZZ_OFFSET.
"""

from __future__ import annotations

import os
import random

import pytest

from dbt_spark.functions.suffix import (
    GRANULE,
    global_head_ranks,
    suffix_rank_tables,
    suffix_repeat_lengths,
)

_OFF = int(os.environ.get("DBT_SPARK_FUZZ_OFFSET", "0"))
_BASE = 230_000


def _brute_reps(docs: list[tuple[int, str]], cap: int = 256) -> dict:
    """Oracle: per (doc, pos) the longest ≤cap-char prefix shared with any
    other suffix — sorted truncated suffixes, LCP with both neighbors."""
    sufs = []
    for d, t in docs:
        for p in range(1, len(t) + 1):
            sufs.append((t[p - 1:p - 1 + cap], d, p))
    sufs.sort()

    def lcp(a: str, b: str) -> int:
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    rep = {}
    for i, (s, d, p) in enumerate(sufs):
        best = 0
        if i > 0:
            best = max(best, lcp(s, sufs[i - 1][0]))
        if i + 1 < len(sufs):
            best = max(best, lcp(s, sufs[i + 1][0]))
        rep[(d, p)] = min(best, cap)
    return rep


def _check(spark, docs: list[tuple[int, str]], cap: int = 256,
           id_type: str = "long") -> None:
    df = spark.createDataFrame(docs, f"doc_id {id_type}, text string")
    got = {
        (r["doc_id"], r["pos"]): r["rep"]
        for r in suffix_repeat_lengths(df, max_depth=cap).collect()
    }
    want = _brute_reps(docs, cap)
    assert got == want, {
        k: (got.get(k), want.get(k))
        for k in set(got) | set(want)
        if got.get(k) != want.get(k)
    }


def _gen_corpus(rng: random.Random) -> list[tuple[int, str]]:
    alpha = rng.choice(["ab", "abc", "abcd"])
    docs = []
    for d in range(rng.randrange(3, 7)):
        docs.append(
            (d, "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 80))))
        )
    # plant a shared span across two random docs (may exceed GRANULE·2)
    if rng.random() < 0.8 and len(docs) >= 2:
        span = "".join(rng.choice(alpha) for _ in range(rng.randrange(5, 90)))
        i, j = rng.sample(range(len(docs)), 2)
        docs[i] = (docs[i][0], docs[i][1] + span)
        docs[j] = (docs[j][0], span + docs[j][1])
    # occasionally an exact duplicate document
    if rng.random() < 0.4 and len(docs) >= 2:
        i, j = rng.sample(range(len(docs)), 2)
        docs[j] = (docs[j][0], docs[i][1])
    return docs


@pytest.mark.parametrize("seed", [_BASE + _OFF + i for i in range(6)])
def test_suffix_repeat_fuzz(spark, seed):
    rng = random.Random(seed)
    _check(spark, _gen_corpus(rng))


def test_suffix_repeat_int_doc_ids(spark):
    """An int-typed doc_id packs into the same (doc, pos) long keys as a
    long one: shifting an int by 32 would leave it unchanged and make
    (doc 1, pos 2) and (doc 2, pos 1) the same key."""
    _check(spark, _gen_corpus(random.Random(_BASE + _OFF)), id_type="int")


def test_suffix_repeat_all_same_char(spark):
    """Worst case for doubling: one giant tie block per depth, rounds go to
    the cap, every LCP decided by the remaining-length clamp."""
    _check(spark, [(0, "a" * 120), (1, "a" * 40)])


def test_suffix_repeat_periodic_and_short(spark):
    _check(spark, [(0, "abcabcabcabcab")])
    _check(spark, [(0, "x"), (1, "x"), (2, "yz"), (3, "yz")])
    # shorter cap than GRANULE·2 still exact
    _check(spark, [(0, "abzabza"), (1, "zab")], cap=32)


def test_suffix_repeat_unicode(spark):
    """Codepoint (not byte) positions — matches Spark/DuckDB substr
    semantics for multibyte text."""
    _check(spark, [(0, "naïve café naïve"), (1, "café crème")])


def test_global_head_ranks_exact(spark):
    rng = random.Random(_BASE + _OFF + 77)
    rows = [(i, rng.choice(["aa", "ab", "b", "ccc", "d"])) for i in range(60)]
    df = spark.createDataFrame(rows, "rid long, k string")
    got = {
        r["rid"]: r["rank"]
        for r in global_head_ranks(df, key="k", tiebreak=["rid"]).collect()
    }
    ordered = sorted(rows, key=lambda x: (x[1], x[0]))
    heads, want = {}, {}
    for idx, (rid, k) in enumerate(ordered, start=1):
        heads.setdefault(k, idx)
        want[rid] = heads[k]
    assert got == want


def test_global_head_ranks_sz_marker_contract(spark):
    """``__sz`` is a singleton MARKER (1 = unique key, >1 = tied): the fast
    path emits a literal 2 for tied rows while the skew-safe path emits the
    exact block count, but both must agree on the ==1 / >1 predicate every
    consumer relies on."""
    rng = random.Random(_BASE + _OFF + 78)
    rows = [(i, rng.choice(["aa", "ab", "b", "ccc", "d", f"u{i}"]))
            for i in range(80)]
    df = spark.createDataFrame(rows, "rid long, k string")
    from collections import Counter

    key_count = Counter(k for _, k in rows)
    want = {rid: key_count[k] == 1 for rid, k in rows}
    for skew_safe in (False, True):
        out = global_head_ranks(
            df, key="k", tiebreak=["rid"], skew_safe=skew_safe)
        assert "__sz" in out.columns, skew_safe
        got = {r["rid"]: r["__sz"] == 1 for r in out.collect()}
        assert got == want, skew_safe


def test_suffix_rank_tables_order_matches_sorted_suffixes(spark):
    """The final table's (rank, doc, pos) order IS the suffix-array order
    of truncated suffixes (head ranks: equal prefixes share a rank)."""
    docs = [(0, "banana"), (1, "bandana")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    tables = suffix_rank_tables(df, max_depth=64)
    final = tables[-1][1].collect()
    got = sorted(((r["rank"], r["doc_id"], r["pos"]) for r in final))
    texts = dict(docs)
    sufs = sorted(
        (texts[d][p - 1:p - 1 + 64], d, p)
        for d in texts for p in range(1, len(texts[d]) + 1)
    )
    # ranks must be head indices: rank of row k (0-based sorted) equals
    # 1 + index of the first row with the same truncated suffix
    first = {}
    for i, (s, d, p) in enumerate(sufs):
        first.setdefault(s, i + 1)
    want = sorted((first[s], d, p) for s, d, p in sufs)
    assert got == want
    assert tables[0][0] == GRANULE and tables[-1][0] == 64


def test_suffix_plan_no_cartesian_no_python_udf(spark):
    """Plan hygiene: the whole pipeline stays codegen'd DataFrame ops —
    no cartesian products, no Python UDF/eval nodes."""
    docs = spark.createDataFrame(
        [(0, "abcabc"), (1, "bcabca")], "doc_id long, text string"
    )
    plan = suffix_repeat_lengths(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_suffix_repeat_adversarial_10k_single_char(spark):
    """The round-10 adversarial gate (VERDICT r9 directive #8): a 10k-char
    single-character doc — every depth's tie block is (nearly) the whole
    corpus. Per-round work must stay aggregate/join-shaped (no window
    serializing the block through one task) and the result must still
    match the pure-python oracle. Wall-clock is asserted loosely only to
    catch an accidental O(n^2)-per-task regression."""
    import time as _t

    docs = [(0, "a" * 10_000)]
    t0 = _t.time()
    _check(spark, docs)
    assert _t.time() - t0 < 240, "adversarial corpus took pathological time"


def test_suffix_repeat_adversarial_mixed_block(spark):
    """Giant block PLUS normal text: salting must not disturb cross-block
    adjacency (rep values at block boundaries)."""
    rng = random.Random(_BASE + _OFF + 991)
    filler = "".join(rng.choice("xyz ") for _ in range(300))
    _check(spark, [(0, "b" * 3_000), (1, filler), (2, "b" * 500 + filler[:40])])


def test_both_physical_plans_same_result(spark):
    """The adaptive planner's two physical plans (window fast path vs
    skew-safe aggregates) are one logical operator: same corpus, both
    pinned paths, identical result vs the pure-python oracle."""
    rng = random.Random(_BASE + _OFF + 77)
    docs = _gen_corpus(rng)
    want = _brute_reps(docs, 64)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for skew_safe in (False, True):
        got = {
            (r["doc_id"], r["pos"]): r["rep"]
            for r in suffix_repeat_lengths(
                df, max_depth=64, skew_safe=skew_safe).collect()
        }
        assert got == want, skew_safe


def test_skew_probe_detection(spark):
    from pyspark.sql import functions as F

    from dbt_spark.functions.suffix import GRANULE, _probe_skew

    def probe(docs):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        positions = df.select(
            F.col("text").alias("__text"),
            F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
        )
        return _probe_skew(
            positions, F.expr(f"substring(__text, pos, {GRANULE})"))

    # single-character corpus: one giant tie block -> skew-safe plan
    assert probe([(0, "a" * 4000)]) is True
    # diverse corpus: seed keys are near-unique -> fast window plan
    rng = random.Random(_BASE + _OFF + 78)
    alpha = "abcdefgh"
    diverse = [
        (d, "".join(rng.choice(alpha) for _ in range(300))) for d in range(30)
    ]
    assert probe(diverse) is False


def test_pack_guard_rejects_out_of_range_ids(spark):
    """The (doc, pos) single-long packing in the adjacency/lifting tables
    assumes 32-bit doc ids; an id past that must raise, not silently
    corrupt the lifting join keys."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1 << 33, "abcabc"), (1, "bcabca")], "doc_id long, text string")
    with _pytest.raises(Exception, match="outside"):
        suffix_repeat_lengths(docs).collect()


def test_rank_tables_carry_shallower_ranks(spark):
    """suffix_rank_tables stamps each shallower depth's rank as an r<depth>
    column on deeper tables — the LCP lifting's join-free offset-0 compare
    depends on it, and the carried column must EQUAL the shallower table's
    own rank per position."""
    docs = spark.createDataFrame(
        [(0, "banana" * 30), (1, "bandana" * 25)], "doc_id long, text string")
    tables = suffix_rank_tables(docs, max_depth=256)
    final = tables[-1][1]
    for depth, _tbl in tables[:-1]:
        assert f"r{depth}" in final.columns, depth
    t64 = {(r["doc_id"], r["pos"]): r["rank"] for r in tables[0][1].collect()}
    carried = {(r["doc_id"], r["pos"]): r["r64"] for r in final.collect()}
    assert carried == t64
