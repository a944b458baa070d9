#!/usr/bin/env python3
"""Ungated per-query timer for the headline queries.

The gated benchmark is perfbench (``python3 perfbench/run.py --workload W
--seed N --seconds S``, declared in BENCHMARK.json). This script times the
headline queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata) on
local[$SPARK_GRAFT_CPUS], writes the record to BENCH.json and prints it as
ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "parallelism": {...}}

Each query is fully materialized through the noop sink (no driver-side
collect — executor-complete wall time, the number that scales). One shared
SparkSession for the whole run: JVM startup would otherwise dominate at
sf0.1.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.session import get_spark

#: representative heavy queries across operator families (SURVEY.md §2)
HEADLINE = [
    "agg_pricing_summary",        # flagship scan+agg
    "scan_parquet_checksum",      # raw scan throughput
    "join_broadcast_star_revenue",  # star join, broadcast dims
    "join_inner_revenue_by_customer",  # fact⋈fact shuffle join
    "join_asof_purchase_last_click",   # as-of window emulation
    "window_topn_revenue_per_segment",  # window group-limit
    "dedup_exact_sha",            # hash dedup
    "dedup_minhash_lsh",          # minhash LSH + jaccard verify
    "sim_topk_bruteforce",        # exact vector search
    "sim_ann_lsh_bucketed",       # ANN bucketed search
    "text_tfidf_vocab",           # explode-heavy text agg
    "text_lang_id_ngram",         # multi-stage text classifier
    "stream_session_window_twin",  # session windows
    # the worst sub-linear SCALING.md ratios: pair-generating jobs whose
    # candidate sets grow super-linearly in corpus density
    "text_minhash_containment",   # shared-shingle containment pairs
    "dedup_minhash_estimate_error",  # LSH estimate vs exact Jaccard
    "graph_triangle_count",       # degree-oriented triangle counting
    "dedup_semantic_embedding",   # corpus-adaptive SemDeDup cells
    "agg_ols_two_features",       # decimal(38) moment-sum OLS
    "graph_kcore_hindex",         # iterated h-index k-core
    "sim_mmr_diversified_topk",   # MMR re-rank over candidate pool
    "sim_retrieval_stack_topk",   # composed BM25->RRF->MMR serving stack
    # the heaviest curation / tokenization pipelines
    "data_curation_incremental",
    "data_tokenize_pack_pipeline",
    "text_bpe_library_apply",
    "dedup_incremental_gate",
    "data_curation_pipeline",
]

#: further queries timed by scripts/scaling_check.py and plan-dumped by
#: scripts/dump_plans.py; not part of the headline total.
EXTRA = [
    "text_token_entropy",
    "data_curriculum_order",
    "data_reservoir_per_source",
    "window_sessionize_gap",
    "stream_hourly_topk_twin",
    "sketch_hll_registers",
    "sim_product_quantization",
    "fn_url_suite",
    "window_sliding_distinct_users_7d",
    "join_asof_nearest_click",
    "data_contrastive_pairs",
    "join_time_band_pairs",
    "data_snapshot_diff",
    "data_dataset_card_stats",
    "sim_pq_adc_topk",
    # r5 additions: tracked but not headline (dedup_semantic_embedding
    # and agg_ols_two_features graduated to HEADLINE in r6)
    "dedup_boilerplate_segments",
    "sim_hard_negative_mining",
    # r6 additions: tracked for SCALING/PLANS evidence from day one
    "dedup_incremental_neardup",
    "sim_ann_grid_multiprobe",
    "window_funnel_strict_order",
    "sim_grid_recall_report",
    "multimodal_cdc_chunk_dedup",
    # (graph_kcore_hindex and sim_mmr_diversified_topk graduated to
    # HEADLINE in r7)
    "dedup_substring_spans",
    "multimodal_phash_neardup",
    "data_skew_audit",
    "sim_ivfpq_adc_topk",
    "sim_prefix_rerank_topk",
    "dedup_substring_removal",
    "text_source_overlap_grams",
    "data_importance_resample",
    "data_privacy_kl_audit",
    "text_novelty_curve",
    "data_dp_noisy_counts",
    "sim_embedding_hygiene_gate",
    "text_chunk_sliding",
    "data_epoch_allocation",
    "text_tokenizer_fertility",
    "window_rolling_corr",
    "data_shard_token_balanced",
    "window_peak_concurrency",
    "agg_basket_affinity",
    "window_event_transitions",
    "text_term_burstiness",
    "agg_gini_revenue",
    "sim_centroid_shift_drift",
    "graph_jaccard_link_prediction",
    "window_cusum_alarm",
    "data_packing_efficiency_report",
    "data_zorder_layout",
    "data_psi_drift",
    "text_nucleus_vocab",
    "multimodal_token_budget",
    "sketch_bloom_fpr_calibration",
    "window_funnel_time_to_convert",
    "dedup_banding_sweep",
    # r7 additions: the retrieval stack's lexical + hybrid stages, the
    # oracle-backed relational NB twin, temperature mixing
    "text_bm25_topk",
    "sim_rrf_hybrid_fusion",
    "ml_nb_relational_twin",
    "data_temperature_mixing",
    # r8 additions: the LR scoring/confusion + NB-eval oracle twins
    "ml_lr_scoring_twin",
    "ml_lr_confusion_twin",
    "ml_eval_relational_twin",
    "text_bpe_merge_train",
    "text_ccnet_perplexity_buckets",
    "text_winnowing_fingerprints",
    "text_winnowing_overlap_pairs",
    # r9 additions: the M1->M5 fit-statistics twin, the composed
    # BM25->RRF->MMR serving stack, and the M6/M3 stage twins
    "ml_tfidf_pipeline_twin",
    "ml_label_index_twin",
    "ml_ngram_stage_twin",
    "text_bpe_encode_vocab",
    "ml_cv_grid_relational_twin",
    # (sim_retrieval_stack_topk graduated to HEADLINE in r9)
    # r10 additions: the BPE decode half and the three library-routed
    # queries that put the production entry points under the hash gate
    "text_bpe_decode_roundtrip",
    "text_winnow_search_floor",
    "text_bm25_library_search",
    "sim_mmr_library_topk",
    # (data_curation_pipeline graduated to HEADLINE in r15)
    # r11 additions: the remaining production library entries routed
    # through the hash gate at non-default parameters (ann_topk lsh +
    # srp_multiprobe, semdedup, nb_classify)
    "sim_ann_library_lsh",
    "sim_ann_library_srp",
    "dedup_semdedup_library",
    "ml_nb_library_classify",
    # r11: decontaminate at n=5
    "data_decontaminate_library",
    # (text_bpe_library_apply, data_curation_incremental,
    # data_tokenize_pack_pipeline and dedup_incremental_gate graduated
    # to HEADLINE in r12)
    # r11: the production per-doc language-ID entry at vocab_k=12
    "text_lang_id_library",
    # r12 additions: the last five pytest-only library entries routed
    # through the hash gate at non-default dials (gopher thresholds,
    # bpe rounds=9, tfidf minDF=4/top2, rrf k=10/top7, kcore-to-fixpoint
    # on the 19-round nation path+clique graph)
    "text_gopher_library_gate",
    "text_bpe_library_train",
    "ml_tfidf_library_features",
    "sim_rrf_library_fuse",
    "graph_kcore_library_converged",
    # r12: Spark-4 SQL session variables + EXECUTE IMMEDIATE, and the
    # |> pipe-syntax dataflow flagship
    "fn_sql_variables_suite",
    "sql_pipe_syntax_flagship",
    # r13: Spark-4 SQL scripting (BEGIN...END compound statement) — the
    # WHILE-iterated tail-mean threshold with an unrolled-CTE oracle
    "sql_scripting_compound",
    # r13: ST4 watermark semantics as a batch query (micro-batch arrival
    # log replay — drop + closed-window emission, stream-equal by test),
    # plus the watermark_replay library router at non-default dials
    "stream_watermark_close_twin",
    "stream_watermark_library_replay",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = get_spark("bench")
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]

    # JVM warmup so query 1 isn't billed for interpreter/codegen/parquet
    # reader initialization: exercise the same machinery (columnar parquet
    # scan, decimal hash agg, shuffle) once on a small slice.
    from pyspark_for_ebook_classification_spark.sources.io import load

    (
        load(spark, sf_dir, "lineitem")
        .limit(50_000)
        .groupBy("l_returnflag")
        .agg({"l_quantity": "sum"})
        .collect()
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Three executions per query, report the MIN: the steady-state number a
    # long-running cluster job sees. One-shot timings on this shared host
    # vary 2-3x with external load (measured: the same query 2.1s vs 7.4s
    # minutes apart; BENCH_r06 inflated +21% uniformly across untouched
    # queries); min-of-3 discards the noise spikes, not real work.
    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        queries[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # One untimed WARM PASS over every headline query before measuring:
    # a fresh JVM keeps lowering per-query floors while the pass's hundreds
    # of jobs JIT-compile the scan and shuffle paths, so a cold pass bills
    # that warm-up to its early queries.
    for name in names:
        run_once(name)
    timings = {name: round(min(run_once(name) for _ in range(3)), 3) for name in names}
    for name in names:
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    sc = spark.sparkContext
    record = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # the core count the run actually used (session.py honors
        # $SPARK_GRAFT_CPUS), so 4-core and 32-core records are told apart
        "parallelism": {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(
                spark.conf.get("spark.sql.shuffle.partitions")
            ),
            "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        },
    }
    bench_json = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH.json"
    )
    with open(bench_json, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(json.dumps(record))


if __name__ == "__main__":
    main()
