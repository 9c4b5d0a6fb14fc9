"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} — kept under the driver's 2,000-char
stdout capture so it parses whole; the extended-set/train-artifact detail
is written to BENCH_DETAIL.json alongside.

Each query is executed to completion with the `noop` sink (full plan runs,
nothing collected to the driver — measures engine throughput, not driver IO).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "agg_funcs",
    "join_inner",
    "join_left",
    "join_multiway",
    "pivot_conditional",
    "window_running_sum",
    "window_row_number",
    "cte_composition",
    "rollup_agg",
    "distinct_op",
    "union_all",
    "join_asof",
    "join_range",
    "session_window_agg",
    "agg_salted_twophase",
    "grouping_sets_agg",
    "join_skew_salted",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_late_lines_by_status",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_parts_supplier",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_join",
    "tpch_q20_potential_promotion",
    "tpch_q21_waiting_supplier",
    "tpch_q22_global_sales_opportunity",
    # LLM-pipeline ops (added as they come online)
    "dedup_exact",
    "corpus_weighted_sample",
    "sequence_packing",
    "dedup_minhash_lsh",
    "training_data_pipeline",
    "text_quality_score",
    "token_count",
    "ann_topk_bruteforce",
]

# Round-2 additions, timed separately so `value` stays comparable across
# rounds (same 48-query headline set as round 1).
EXTENDED = [
    "agg_filter_clause",
    "agg_stats_exact",
    "gaps_islands_sessions",
    "window_ntile_distribution",
    "pivot_native",
    "recursive_cte_date_spine",
    "lateral_topn_join",
    "token_count_bpe",
    "decontamination_anti_join",
    "pii_redaction",
    "train_val_test_split",
    "orderby_limit_offset",
    "approx_distinct_bounded",
    "interval_arithmetic",
    "nullsafe_join_null_ordering",
    "set_ops_multiset",
    "group_by_all_shorthand",
    # round-3 additions
    "semantic_metric_query",
    "repetition_filter_gopher",
    "chunk_fixed_windows",
    "decontam_ngram_overlap",
    "quality_filter_c4",
    "language_balanced_sample",
    "corpus_shuffle_deterministic",
    "dup_chunk_ratio",
    "window_count_distinct",
    "map_column_ops",
    "vocab_top_terms",
    "embedding_centroids",
    "oov_rate_vs_vocab",
    "decontam_neardup_lsh",
    "try_error_handling_ops",
    "grouping_id_rollup",
    "approx_percentile_bounded",
    "length_bucket_batching",
    # round-4 additions
    "ann_topk_ivf",  # trained-centroid cache: rep 1 trains, min-of-3 = probe cost
    "dup_cluster_sizes",
    "per_lang_length_stats",
    "tfidf_top_terms",
    "ngram_novelty_rate",
    "event_funnel",
    "retention_cohorts",
    "per_source_dup_rate",
    # round-4b additions
    "semantic_conversion_metric",
    "join_range_binned",
    "table_profile",
    "attribution_touchpoints",
    "lang_confusion_matrix",
    "bm25_topk",
    "stratified_quota_sample",
    "dedup_keep_best",
    "event_outliers_exact_zscore",
    "char_len_histogram",
    # round-7 additions
    "semantic_entity_two_hop_dimension",
    "semantic_metric_custom_timespine",
    "incremental_merge_acid",
    "table_profile_approx_tolerance",
    "temperature_mix_sample",
    "semdedup_cluster_prune",  # trained-centroid cache: rep 1 trains
    "dsir_importance_select",
    "ngram_lm_quality_score",
    "semantic_semi_additive_metric",
    "semantic_metric_input_ratio",
    "dedup_exact_substring",
    "token_budget_select",
    "ann_topk_pq",  # trained-codebook cache: rep 1 trains
    "multimodal_image_headers",
    "multimodal_wav_headers",
    "bpe_merge_learning",
    "ann_topk_ivfpq",  # cached centroids+codebooks
    # round-8 additions
    "multimodal_pixel_decode",
    "multimodal_resize_nearest",
    "multimodal_wav_pcm_decode",
    "multimodal_pcm_window_energy",
    "multimodal_pcm_decimate",
    "multimodal_gif_decode",
    "multimodal_jpeg_decode",
    "multimodal_g711_roundtrip",
    "multimodal_pair_dedup",          # r13 image-text pair dedup (2 gates)
    "multimodal_caption_alignment",   # r13 caption-page containment audit
    "multimodal_phash_neardup",       # r13 Hamming-2 banded image near-dup
    "pair_hard_negative_mine",        # r13 contrastive negatives, df-capped gram join
    "audio_transcript_rate_audit",    # r13 speech-rate pair plausibility gate
    "domain_mixture_reweight",        # r13 DoReMi-lite MW mixture optimization
    "dedup_minhash_lsh_paired",       # r13 value-paired banded LSH (portable md5)
    "stream_mixture_reweight",        # r13 streaming MW mixture twin (sum-merge state)
    "bt_preference_strength",         # r13 Bradley-Terry eval-winrate MM fit
    "stream_bt_strength",             # r13 streaming BT twin (decimal lattice fold)
    "dp_exponential_topk",            # r13 DP private selection (Gumbel-max top-k)
    "filter_agreement_kappa",         # r13 gate-redundancy Cohen-kappa matrix
    "timeseries_rollup_cascade",      # r13 hypertable continuous-aggregate cascade
    "stream_rollup_cascade",          # r13 streaming continuous-aggregate twin
    "canary_extraction_audit",        # r13 memorization-canary inventory audit
    "doc_entropy_quality",            # r13 unigram-entropy spam gate
    "lang_script_mismatch_audit",     # r13 declared-lang vs script audit
    "html_extract_visible_text",
    "unigram_tokenizer_learning",  # trained-vocab cache: rep 1 trains
    "token_count_unigram",
    "stream_media_triage",
    "kneser_ney_quality_score",
    "kneser_ney_mod_quality_score",
    "exact_substring_remove",
    "quality_classifier_linear",
    "export_sharded_jsonl",
    "ppl_bucket_split",
    "skewed_agg_salted",
    "zipf_slope_fit",
    "source_drift_ks",
    "utilpack_accepted_range",
    "utilpack_mutually_exclusive_ranges",
    "utilpack_cardinality_equality",
    # round-9 additions
    "suffix_repeat_stats",  # distributed suffix array: doubling rounds + LCP lifting
    "dedup_cc_star_chain",  # Kiveris large/small-star CC over chain duplicate graphs
    "heavy_hitters_mg",  # Misra-Gries candidates + exact verify (bounded-memory top tokens)
    "decontam_bloom_prefilter",  # Bloom words-array map-side prefilter + exact join
    "moore_lewis_select",  # cross-entropy-difference selection, two in-engine LMs
    "unimax_language_budget",  # UniMax water-filling + per-lang greedy fill
    "pmi_top_pairs",  # doc-presence PMI collocations, TakeOrdered top-k
    "stream_heavy_hitters",  # cross-batch stateful MG + exact verify (value-paired streaming)
    "suffix_substring_remove",  # ExactSubstr removal on the true suffix array
    # round-10 additions
    "copurchase_triangle_stats",  # degree-ordered triangle counting
    "utilpack_unique_combination_of_columns",  # hash-groupBy duplicate combos
    "copurchase_pagerank",  # 4 power iterations, 2 shuffles each
    "pii_redact_stats",  # chained 3-kind redaction, scan-stage codegen
    "boilerplate_segment_dedup",  # CCNet line dedup: 2 shuffles
    "holdout_split_grouped",  # leakage-safe grouped split
    "source_gini_inequality",  # partitioned rank window + decimal sums
    "weighted_sample_topk",  # A-ES race + TakeOrderedAndProject
    "unicode_nfc_scrub",  # Arrow mapInPandas NFC
    "blocklist_phrase_filter",  # one alternation regex scan
    "corpus_psi_drift",  # bucket counts + round-6 PSI
    "decontam_exact_substring_cover",  # broadcast W-gram hash join
    "hll_token_cardinality",  # explicit HLL registers
    "cms_token_freq",  # CMS counters + probe
    "event_transition_matrix",  # LAG window + pair groupBy
    "stream_pii_scrub",  # streaming quarantine gate (harness floor)
    "stream_hll_cardinality",  # cross-batch register merge
    "moments_quantile_sketch",  # five power sums + CF expansion
    "kcore_copurchase",  # six-round peel, checkpointed
    # round-11 additions (SFT/conversation family + strategy dispatch e2e)
    "dialog_turn_flatten",  # struct-array collect + ordered rejoin, md5-pinned
    "turn_dedup_normalized",  # (conv, normalized turn) first-occurrence dedup
    "rejection_sample_best_of_k",  # argmax per candidate pool
    "sequence_pack_chunks",  # concat-and-chunk packing, block-span explode
    "chat_template_render",  # template + loss-mask spans, byte-pinned
    "context_window_truncate",  # reverse-cumsum suffix selection
    "dialog_role_validate",  # post-scrub chat-contract gate
    "dpo_pair_construct",  # chosen/rejected extremes, one window exchange
    "incremental_custom_strategy",  # get_incremental_<name>_sql dispatch e2e
    "stream_turn_dedup",  # stateful cross-batch dropDuplicates (value-paired streaming)
    "rm_pair_extract",  # user->assistant adjacency pairs, one LAG window
    "matryoshka_overlap_probe",  # MRL truncation recall, decimal-exact ranking
    # round-12 additions (SFT release gates: decontam + preference QA + mixture)
    "prompt_decontam_ngram",  # user-turn 3-gram overlap vs benchmark prompts
    "preference_pair_consistency",  # tie/margin/degenerate-pair audit per pool
    "dialog_mixture_stats",  # role-balance + length-budget mixture cells
    "filter_funnel_report",  # sequential quality-gate survival funnel
    "chunk_with_overlap",  # RAG sliding-window chunking, shuffle-free
    "stream_prompt_decontam",  # stream-static gram gate + stateful doc dedup (value-paired streaming)
    "packed_attention_doc_mask",  # cu_seqlens boundary metadata per packed block
    "source_ngram_overlap",  # source-pair 5-gram jaccard matrix, bounded fan-out
    "epoch_repetition_plan",  # data-constrained 4-epoch-cap allocation
    "tokenizer_fertility_by_lang",  # BPE-per-word fertility, one scan
    "vocab_coverage_curve",  # top-k occurrence coverage checkpoints
    "kmv_theta_set_ops",  # bottom-k theta sketches: union/intersection estimates
    "stream_kmv_cardinality",  # cross-batch bottom-k merge (value-paired streaming)
    "stream_pair_phash_dedup",  # r13 in-stream REAL-decode image dedup (value-paired)
    "embedding_pca_power_iteration",  # integer-exact distributed power iteration
    "embedding_quality_audit",  # norm/NaN/zero gate before index builds
    "bitext_margin_mine",  # Artetxe-Schwenk ratio-margin pair mining
    "dp_laplace_release",  # deterministic Laplace-noise contingency release
    "skipgram_negative_table",  # unigram^0.75 slot table, exact decimal partition
    "rag_retrieval_eval",  # planted-query chunk-retrieval recall harness
    "filter_rate_wilson_ci",  # pass-rate monitoring with Wilson intervals
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from dbt_spark.session import get_spark
    from dbt_spark.queries import QUERIES

    spark = get_spark("bench")
    # Steady-state warmup: one pass over a join+window+agg plan initializes
    # whole-stage codegen, the shuffle/broadcast machinery, and parquet
    # footers, so per-query numbers measure the plan rather than JVM JIT.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    for wname in ("cte_composition", "join_range", "window_row_number"):
        wfn = QUERIES.get(wname)
        if wfn is not None:
            wfn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    # ANN model/index artifacts (IVF centroids, PQ codebooks, encoded
    # codes, IVFADC index) are INGEST-time work at scale — train/encode
    # once here, timed as its own entry, so the per-query ANN numbers
    # below measure the search path alone (probes + ADC scan + re-rank).
    from dbt_spark.queries.llmops import (
        warm_ann_artifacts,
        warm_quality_classifier,
    )

    ann_train = warm_ann_artifacts(spark, sf_dir)
    ann_train["search_only"] = _bench_ann_search_only(spark, sf_dir)
    # the linear quality classifier's LBFGS fit is likewise train-time
    # work: timed once here, so the registered query's entry below
    # measures the broadcast-coefficients scoring pass alone
    quality_train = warm_quality_classifier(spark, sf_dir)

    # Min-of-N per query: the VM's wall clock swings ±40% run-to-run, so a
    # single sample cannot distinguish a regression from noise. The min of 3
    # runs is the closest observable to the true plan cost on a noisy box.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def _time_set(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            best = None
            for _ in range(reps):
                t0 = time.time()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 3)
        return out

    times = _time_set(HEADLINE)
    total = round(sum(times.values()), 3)
    times_ext = _time_set(EXTENDED)

    parse2k = _bench_parse_2000()
    run2k = _bench_run_2000(spark)
    orch = _bench_orchestration(spark, sf_dir)

    # Full detail (extended set, train-time artifacts, orchestration
    # breakdown) goes to a repo-root file: the round driver captures only
    # the last 2,000 chars of stdout, so the stdout line below is kept
    # COMPACT enough to parse whole while this file carries everything.
    detail = {
        "metric": "headline_query_wall_sec",
        "value": total,
        "unit": "sec",
        "reps": reps,
        "queries": times,
        "queries_extended": times_ext,
        "sf": sf,
        "ann_train_artifacts": ann_train,
        "quality_classifier_train": quality_train,
        "parse_2000_models": parse2k,
        "run_2000_models": run2k,
        "orchestration": orch,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    print(compact_line(total, reps, times, sf, parse2k, run2k))


def compact_line(total, reps, times, sf, parse2k, run2k) -> str:
    """The ONE stdout JSON line the round driver parses. The driver captures
    only the last 2,000 chars of stdout, so the line must stay under 1,950
    chars with the full headline set — tested against the live registry in
    tests/test_bench_contract.py (r9-r12 lost their round-over-round
    comparison to an overlong line)."""
    compact = {
        "metric": "headline_query_wall_sec",
        "value": total,
        "unit": "sec",
        "reps": reps,
        "queries": times,
        "sf": sf,
        "parse2k_cold": parse2k.get("cold_sec"),
        "parse2k_warm": parse2k.get("warm_partial_sec"),
        "run2k": run2k.get("run_sec"),
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:  # driver tail cap is 2,000 chars; stay inside it
        compact["queries"] = {
            k: v for k, v in sorted(times.items(), key=lambda kv: -kv[1])[:40]
        }
        line = json.dumps(compact, separators=(",", ":"))
    return line


def _bench_ann_search_only(spark, sf_dir: str) -> dict:
    """The production ANN cost: PQ/IVFADC SEARCH with every index artifact
    prebuilt (codes/centroids/codebooks cached, metadata hints passed) —
    what a query batch pays once ingest has built the index. The
    registered ann_topk_* queries additionally carry their in-query
    brute-force recall GATE, so their bench entries measure
    search + validation; this entry isolates the search path."""
    from pyspark.sql import functions as F

    from dbt_spark.functions import similarity as S
    from dbt_spark.queries.llmops import (_emb, _emb_meta, _encoded_codes,
                                          _ivfpq_idx, _trained_centroids,
                                          _trained_codebooks)

    emb = _emb(spark, sf_dir)
    pred = (F.col("vec_id") >= 100) & (F.col("vec_id") < 108)
    n, dim = _emb_meta(spark, sf_dir)
    out = {}
    for name, build in (
        ("pq", lambda: S.pq_topk(
            emb, pred, k=5, m=8, n_codes=16, rerank=max(64, n // 8),
            codebooks=_trained_codebooks(spark, sf_dir),
            codes=_encoded_codes(spark, sf_dir),
            subdim=dim // 8, m_count=8)),
        ("ivfpq", lambda: S.ivfpq_topk(
            emb, pred, k=5, n_centroids=8, nprobe=4, m=8, n_codes=16,
            centroids=_trained_centroids(spark, sf_dir),
            codebooks=_trained_codebooks(spark, sf_dir),
            codes=_ivfpq_idx(spark, sf_dir),
            rerank=max(64, n // 8), subdim=dim // 8, m_count=8)),
    ):
        best = None
        for _ in range(3):
            t0 = time.time()
            build().write.mode("overwrite").format("noop").save()
            best = min(best or 9e9, time.time() - t0)
        out[name] = round(best, 3)
    return out


def _bench_run_2000(spark) -> dict:
    """The reference's 2,000-model perf project exercised PAST parse:
    materialize all 2,000 models as views end-to-end and pin per-node
    scheduler overhead. Shape: 200 independent chains of depth 10 — the
    same node count as the parse bench; bounding ref depth keeps Catalyst's
    view-plan copies linear, so the number measures the ENGINE's parse +
    DAG link + thread-pool scheduling + view-registration cost rather than
    quadratic logical-plan inlining (a 2,000-deep view chain is an
    anti-pattern on any SQL engine)."""
    import shutil
    import tempfile

    from dbt_spark.runner import Engine

    root = tempfile.mkdtemp(prefix="bench_run2000_")
    try:
        with open(os.path.join(root, "dbt_project.yml"), "w") as f:
            f.write("name: perf2000run\n")
        models = os.path.join(root, "models")
        os.makedirs(models)
        for c in range(200):
            for i in range(10):
                sql = ("select 1 as id, 'x' as v" if i == 0 else
                       f"select * from {{{{ ref('n_{c}_{i - 1}') }}}}")
                with open(os.path.join(models, f"n_{c}_{i}.sql"), "w") as f:
                    f.write(sql)
        eng = Engine(root, spark=spark)
        t0 = time.time()
        res = eng.invoke(["run"])
        total = round(time.time() - t0, 3)
        return {"run_sec": total, "ok": bool(res.success),
                "n_models": 2000,
                "ms_per_node": round(total * 1000.0 / 2000, 3)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bench_parse_2000() -> dict:
    """BASELINE.md parse targets: cold ≤143 s (2× the reference's 71.64 s
    GH-runner mean), warm partial-parse ≤5 s — on the reference's own
    2,000-chained-model project shape."""
    import tempfile

    root = tempfile.mkdtemp(prefix="bench_parse2000_")
    os.makedirs(os.path.join(root, "models"), exist_ok=True)
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: perf2000\n")
    for d in range(200):
        dd = os.path.join(root, "models", f"path_{d}")
        os.makedirs(dd, exist_ok=True)
        for i in range(10):
            n = d * 10 + i
            sql = "select 1 as id" if n == 0 else (
                f"select 1 as id union all select * from {{{{ ref('node_{n-1}') }}}}"
            )
            with open(os.path.join(dd, f"node_{n}.sql"), "w") as f:
                f.write(sql)

    from dbt_spark.plans.graph import Linker
    from dbt_spark.project import Project
    from dbt_spark.runner import Engine

    eng = Engine.__new__(Engine)
    eng.project = Project.load(root)
    eng.vars = {}
    t0 = time.time()
    m = eng.parse()
    Linker().link_graph(m)
    cold = round(time.time() - t0, 3)
    t0 = time.time()
    m = eng.parse()
    Linker().link_graph(m)
    warm = round(time.time() - t0, 3)
    return {"cold_sec": cold, "warm_partial_sec": warm, "n_models": len(m.nodes)}


def _bench_orchestration(spark, sf_dir: str) -> dict:
    """Orchestration-layer costs the headline set doesn't see:

    - ``run --empty`` schema-only dry run (refs/sources LIMIT-0-wrapped,
      providers.py:242-243 semantics) vs the same project's full run — the
      dry-run should cost plan-only time regardless of data volume, which is
      exactly what makes it the CI staple at 100 TB;
    - analyzed-scan cache hit rate across the whole bench session (each miss
      re-pays parquet footer + analysis traffic);
    - Janino compiles and their summed time across the whole bench session
      (each is a miss in Spark's generated-class cache).
    """
    import shutil
    import tempfile

    from dbt_spark.runner import Engine
    from dbt_spark.session import codegen_stats, scan_cache_stats

    root = tempfile.mkdtemp(prefix="bench_orch_")
    try:
        with open(os.path.join(root, "dbt_project.yml"), "w") as f:
            f.write("name: orch\nmodel-paths: ['models']\n")
        models = os.path.join(root, "models")
        os.makedirs(models)
        with open(os.path.join(models, "sources.yml"), "w") as f:
            f.write(
                "version: 2\nsources:\n  - name: raw\n    tables:\n"
                "      - name: lineitem\n        meta:\n"
                f"          location: {sf_dir}/lineitem.parquet\n"
                "      - name: orders\n        meta:\n"
                f"          location: {sf_dir}/orders.parquet\n"
            )
        with open(os.path.join(models, "line_agg.sql"), "w") as f:
            f.write(
                "{{ config(materialized='table') }}\n"
                "select l_orderkey, sum(l_extendedprice * (1 - l_discount)) as rev\n"
                "from {{ source('raw', 'lineitem') }} group by l_orderkey\n"
            )
        for i in range(20):
            up = "line_agg" if i == 0 else f"m{i - 1}"
            with open(os.path.join(models, f"m{i}.sql"), "w") as f:
                f.write(f"select * from {{{{ ref('{up}') }}}}\n")
        with open(os.path.join(models, "joined.sql"), "w") as f:
            f.write(
                "{{ config(materialized='table') }}\n"
                "select o.o_orderpriority, count(*) as n, sum(a.rev) as rev\n"
                "from {{ ref('m19') }} a join {{ source('raw', 'orders') }} o\n"
                "on a.l_orderkey = o.o_orderkey group by o.o_orderpriority\n"
            )

        eng = Engine(root, spark=spark)
        # full run first so the dry run is measured warm (same order a CI
        # pipeline sees: incremental full runs, --empty smoke checks on top)
        t0 = time.time()
        r_full = eng.invoke(["run", "--full-refresh"])
        full_sec = round(time.time() - t0, 3)
        t0 = time.time()
        r_empty = eng.invoke(["run", "--empty", "--full-refresh"])
        empty_sec = round(time.time() - t0, 3)
        hits, misses = scan_cache_stats["hits"], scan_cache_stats["misses"]
        return {
            "run_empty_sec": empty_sec,
            "run_full_sec": full_sec,
            "empty_ok": bool(r_empty.success),
            "full_ok": bool(r_full.success),
            "n_models": 22,
            "scan_cache_hit_rate": round(hits / max(1, hits + misses), 4),
            "scan_cache_hits": hits,
            "scan_cache_misses": misses,
            "codegen": codegen_stats(spark),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
