"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Each query is a full plan execution (action = count or collect for
top-k results); times are per-query wall clock, `value` is the sum.

Index amortization caveat: the first `indexed_*` query at a FRESH
scale directory builds its index layout lazily (measured 17.9s at
sf0.01; 0.56s on every later call) — a deliberate one-time cost, the
same amortization a deployment gets from its background index build
(SCALING.md reports `index_build` as its own column). The per-query
minimum over N_REPS therefore reports the warm (steady-state) query
cost; rep 1 of a cold run carries the build.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from cocoindex_data_ingestion_spark.session import get_spark

# Headline set: reference query surface + scale ops. Bounded-output
# queries are collected; unbounded ones counted (the action still
# executes the full plan; collect of millions of rows would bench
# the driver pipe, not the engine).
HEADLINE = [
    "hybrid_rrf",
    "vector_knn",
    "vector_knn_lsh",
    "vector_knn_ivf",
    "bm25_search",
    "indexed_bm25_search",
    "indexed_vector_knn",
    "indexed_vector_knn_lsh",
    "indexed_vector_knn_ivf",
    "indexed_hybrid_rrf",
    "rerank_keyword_overlap",
    "multi_collection_fanout",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q13_order_distribution",
    "q21_waiting_suppliers",
    "top_customer_per_nation",
    "ordinal_upsert_latest",
    "events_sessionize",
    "events_tumbling_window",
    "events_sliding_window",
    "salted_agg_events",
    "json_extract_agg",
    "asof_purchase_view",
    "graph_2hop_suppliers",
    "knn_maxsim",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_fast",
    "dedup_embedding_cosine",
    "text_profile",
    "chunk_fixed",
    # round-3 additions: corpus curation suite + PQ ANN
    "curate_stratified_sample",
    "curate_weighted_mix",
    "curate_pack_sequences",
    "curate_decontaminate",
    "curate_funnel",
    "vector_knn_pq",
    "indexed_vector_knn_pq",
    # round-3 additions: multiprobe LSH, recursive CTE, VARIANT JSON
    "vector_knn_lsh_multiprobe",
    "indexed_vector_knn_lsh_multiprobe",
    "graph_reachability_cte",
    "indexed_graph_reachability",
    "json_variant_extract",
    "bpe_token_count",
    "curate_weighted_sample",
    "events_session_window_native",
    # round-3 additions: quality filters, winnowing, cluster balance
    "quality_repetition",
    "quality_unigram_logprob",
    "dedup_winnow_overlap",
    "curate_cluster_balance",
    "dedup_semantic_cells",
    "curate_length_histogram",
    "curate_temperature_mix",
    # round-3 additions: IR extensions + curation/scale alternatives
    "suggest_fuzzy",
    "bm25_prf_search",
    "rerank_mmr",
    "events_scd2_history",
    "curate_dsir_weights",
    "dedup_components_star",
    "quality_bigram_logprob",
    "events_pit_enrich",
    "curate_pii_redact",
    "curate_boilerplate_strip",
    "quantile_sketch_rollup",
    "ivm_quantile_sketch",
    # round-10 additions: delta-join IVM + sketch-backed SLO stats +
    # Bloom-prefiltered decontamination (companion to
    # curate_decontaminate — same answer, the too-big-to-broadcast
    # eval-set plan; both rows stay visible like the PCA dual-path)
    "ivm_join_view",
    "percentile_stats_sketch",
    "curate_decontaminate_bloom",
    "phrase_search",
    "events_sequence_funnel",
    "embedding_centroids",
    "embedding_outliers",
    "indexed_bm25_prf",
    "search_snippets",
    "events_retention_cohorts",
    "basket_part_pairs",
    "events_transition_matrix",
    "expectations_audit",
    "kanonymity_audit",
    "curate_split_assign",
    "dedup_incremental_batch",
    "vector_knn_lsh_multitable",
    "curate_negative_samples",
    "corpus_source_profile",
    # round-4 additions
    "dedup_paragraph",
    "quality_line_rules",
    "curate_token_budget",
    "curate_epoch_shuffle",
    "events_anomaly_zscore",
    "embedding_pca_project",
    "search_eval_metrics",
    "embedding_drift_psi",
    "corpus_fertility",
    "text_script_profile",
    "ivm_drift_monitor",
    "embedding_kmeans",
    "tfidf_similar_docs",
    "keywords_tfidf",
    "quality_ppl_buckets",
    "events_key_skew",
    "indexed_vector_knn_ivfpq",
    "curate_temporal_split",
    "dedup_source_matrix",
    "embedding_kmeans_pp",
    "embedding_cluster_quality",
    "vector_knn_batch",
    "events_windowed_topk",
    "ivm_kmeans_online",
    "events_trend_fit",
    # round-4 second wave
    "classify_nb_language",
    "orders_snapshot_diff",
    "parts_pareto_frontier",
    "lineitem_column_stats",
    "events_quantile_sketch",
    "events_seasonal_baseline",
    "vector_knn_int8",
    "linkage_part_names",
    "graph_ppr_fixed",
    "ivm_components_incremental",
    "classify_nb_report",
    "events_winsorize",
    "events_resample_gapfill",
    "orders_zorder_buckets",
    "events_cms_heavy_hitters",
    "events_trailing_7d",
    "events_top_paths",
    "lineitem_corr_matrix",
    "dedup_exact_substring",
    "orders_chi2_priority_status",
    "events_interval_coverage",
    "orders_rfm_segments",
    "events_anomaly_mad",
    "dedup_jaccard_prefix",
    "text_readability",
    "search_facets",
    "orders_mutual_information",
    "corpus_distinct_ngrams",
    "events_ks_test",
    "linkage_sorted_neighborhood",
    "corpus_zipf_fit",
    "corpus_collocations",
    "indexed_phrase_search",
    "indexed_proximity_search",
    "graph_label_propagation",
    # round-4 third wave
    "events_cumulative_users",
    "events_funnel_latency",
    "parts_abc_classes",
    "events_survival_km",
    "orders_welch_ttest",
    "events_concurrency",
    "events_pattern_pairs",
    "graph_modularity",
    "eval_auc_embedding",
    "recs_item_similarity",
    "recs_user_topk",
    "corpus_heaps_fit",
    "events_twap",
    "events_changepoint",
    "orders_gini_customers",
    "events_attribution_linear",
    "orders_bootstrap_ci",
    "lineitem_weighted_quartiles",
    "events_nearest_join",
    "orders_fingerprint",
    "orders_fd_audit",
    "orders_benford",
    "lineitem_spearman",
    "graph_clustering_coeff",
    "ldiversity_audit",
    "events_ewma",
    "events_conversion_ztest",
    "basket_rules",
    "graph_degree_powerlaw",
    "events_acf",
    "curate_neyman_allocation",
    "embedding_isotropy",
    "corpus_source_overlap",
    "events_persistent_hitters",
    "events_trend_backtest",
    "curate_ess",
    "lineitem_revenue_bridge",
    "events_trend_conformal",
    "ivm_ewma_incremental",
    "bucketed_colocated_join",
    "corpus_qq_table",
    "events_mann_kendall",
    # round-5 additions
    "bm25_search_refidf",
    "rag_context_assembly_filtered",
    "entity_extraction_compare",
    "entity_type_confusion",
    "chunk_sentence",
    "entity_cooccurrence",
    "vector_knn_numpy",
    "knn_maxsim_numpy",
    # round-6 additions
    "rag_small_to_big",
    "rag_small_to_big_indexed",
    "mmr_rerank_hierarchical",
    # round-7 additions (the micro-corpus chunker-oracle queries are
    # deliberately NOT benched — constant-size fixtures measure
    # nothing; heading/semantic chunkers get corpus-scale rows in
    # SCALING.md instead)
    "parse_tier_routing",
    # round-7 second-wave additions (corpus-scale rows; the chunk
    # split/merge edit queries scale with the fixed-chunk table, the
    # taxonomy/section/recursive-chunker rows with document count,
    # the job ledger with the events table)
    "document_tag_enrichment",
    "doc_markdown_sections",
    "chunk_recursive_ref",
    "chunk_edit_split",
    "chunk_edit_merge",
    "path_safety_audit",
    "job_ledger_latest",
    "embedding_similarity_metrics",
    "embedding_cost_estimate",
    "notion_page_markdown",
    "entity_quality_keep",
    "gdrive_scan_routing",
    "llm_cost_estimate",
    "rag_prompt_build",
    "chunk_merge_dp",
    # round-7 third-wave additions (app-model/reporting surfaces:
    # the state ledger + SSE rows scale with document count, the
    # listing/bridge/job pages are bounded by their limits, the
    # literal-table queries measure plan overhead only)
    "relationship_model_validation",
    "doc_state_metrics",
    "doc_state_actions",
    "doc_listing_rollup",
    "bridge_hybrid_search",
    "job_listing",
    "llamaparse_normalize",
    "doc_chunks_with_context",
    "sse_document_events",
    "chunk_recursive_flat",
]

SMALL_RESULT = {
    "hybrid_rrf", "vector_knn", "vector_knn_lsh", "bm25_search",
    "rerank_keyword_overlap", "multi_collection_fanout",
    "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "top_customer_per_nation",
    "q6_forecast_revenue", "q9_product_profit",
    "q13_order_distribution", "q21_waiting_suppliers",
    "vector_knn_ivf",
    "graph_2hop_suppliers", "knn_maxsim", "salted_agg_events",
    "json_extract_agg", "indexed_bm25_search", "indexed_vector_knn",
    "indexed_vector_knn_lsh", "indexed_vector_knn_ivf",
    "indexed_hybrid_rrf",
    "curate_stratified_sample", "curate_weighted_mix", "curate_funnel",
    "vector_knn_pq",
    "indexed_vector_knn_pq",
    "vector_knn_lsh_multiprobe", "indexed_vector_knn_lsh_multiprobe",
    "graph_reachability_cte", "indexed_graph_reachability",
    "json_variant_extract",
    "curate_weighted_sample",
    # pure projections / row-count-preserving plans: count() would
    # prune the measured work away entirely (Catalyst column
    # pruning), leaving a metadata row count
    "bpe_token_count", "text_profile", "curate_pack_sequences",
    "text_readability",
    # per-doc profiles / bounded pair and sample sets: collect keeps
    # the column computations in the measured plan
    "quality_repetition", "quality_unigram_logprob",
    "dedup_winnow_overlap", "curate_cluster_balance",
    "dedup_semantic_cells", "curate_length_histogram",
    "curate_temperature_mix",
    "suggest_fuzzy", "bm25_prf_search", "rerank_mmr",
    "phrase_search", "events_sequence_funnel", "embedding_outliers",
    "indexed_bm25_prf", "search_snippets",
    "events_retention_cohorts", "basket_part_pairs",
    "events_transition_matrix",
    "expectations_audit", "kanonymity_audit",
    "curate_split_assign", "vector_knn_lsh_multitable",
    "corpus_source_profile",
    # round-4: per-doc profiles (count() would prune the aggregate
    # expressions) and bounded selections/outlier sets
    "dedup_paragraph", "quality_line_rules", "curate_token_budget",
    "curate_epoch_shuffle", "events_anomaly_zscore",
    "search_eval_metrics", "embedding_drift_psi",
    "corpus_fertility", "text_script_profile",
    # k-bounded model/ranking/profile outputs
    "ivm_drift_monitor", "embedding_kmeans", "tfidf_similar_docs",
    "quality_ppl_buckets", "events_key_skew",
    "indexed_vector_knn_ivfpq", "curate_temporal_split",
    "dedup_source_matrix", "embedding_kmeans_pp",
    "embedding_cluster_quality", "vector_knn_batch",
    "ivm_kmeans_online", "events_trend_fit",
    # round-4 third wave: calendar-/k-bounded outputs
    "events_cumulative_users", "events_funnel_latency",
    "parts_abc_classes", "events_survival_km", "orders_welch_ttest",
    "events_concurrency", "events_pattern_pairs", "graph_modularity",
    "eval_auc_embedding", "recs_item_similarity", "recs_user_topk",
    "corpus_heaps_fit", "events_twap", "events_changepoint",
    "orders_gini_customers", "events_attribution_linear",
    "orders_bootstrap_ci", "lineitem_weighted_quartiles",
    "events_nearest_join", "orders_fingerprint",
    "orders_fd_audit", "orders_benford",
    "lineitem_spearman", "graph_clustering_coeff",
    "ldiversity_audit", "events_ewma",
    "events_conversion_ztest", "basket_rules", "graph_degree_powerlaw",
    "events_acf", "curate_neyman_allocation",
    "embedding_isotropy", "corpus_source_overlap",
    "events_persistent_hitters", "events_trend_backtest",
    "curate_ess", "lineitem_revenue_bridge", "events_trend_conformal",
    "ivm_ewma_incremental", "bucketed_colocated_join",
    "corpus_qq_table", "events_mann_kendall",
    # round-5: k-bounded search/compare outputs + per-doc agreement
    # records (count() would prune the ratio expressions)
    "bm25_search_refidf", "rag_context_assembly_filtered",
    "entity_extraction_compare", "entity_type_confusion",
    "entity_cooccurrence", "vector_knn_numpy", "knn_maxsim_numpy",
    "rag_small_to_big", "rag_small_to_big_indexed",
    "mmr_rerank_hierarchical",
    # per-doc projection: count() would prune the routing expressions
    "parse_tier_routing",
    # round-7 third wave: limit-bounded pages / literal-table and
    # single-row metric outputs (count() would prune the computed
    # columns away)
    "relationship_model_validation", "doc_state_metrics",
    "doc_state_actions", "doc_listing_rollup", "bridge_hybrid_search",
    "job_listing", "llamaparse_normalize",
    # row-count-preserving projection: count() would prune the
    # substring/context expressions (sse_document_events stays
    # count()-measured — its change filter keeps the window pass)
    "doc_chunks_with_context",
    # round-10: 5-row grouped sketch output (ivm_join_view stays
    # count()-measured — its view read is a state-table scan)
    "percentile_stats_sketch",
}


def bench_streaming(spark, sf_dir: str) -> dict:
    """Streaming-surface bench (r4 judge directive #6): rows/sec and
    per-micro-batch latency for the three live-update paths that had
    correctness pins but no perf signal — the stateful ordinal
    upsert, foreachBatch IVM folding, and the stream-stream interval
    join. The sf events table is split into 10 files and replayed
    with maxFilesPerTrigger=1 under trigger(availableNow) — 10
    micro-batches per op, the file-stream analogue of a Kafka replay.
    Setup (split + write) is untimed; timing covers stream start →
    termination, with per-batch durations from StreamingQueryProgress.
    Sinks are ``noop`` (r8): the earlier memory sink retained every
    output row in driver heap, so repeated runs measured driver GC
    pressure, not the operator — at sf0.1 the upsert pushed ~500k
    rows into the driver, exactly the collect-shaped anti-pattern the
    100 TB design forbids.

    Each stateful op is run TWICE (r5 judge directive #4): untuned
    (session defaults — 32 shuffle partitions; since r9 the RocksDB
    state store is the session default, session.py) and as a
    "_tuned" row sizing the state partition count to the per-batch
    state volume (each micro-batch here carries ~thousands of rows
    of state, so 32 store instances × batches is pure per-task/
    commit overhead). At 100 TB event volume the untuned shape is
    the right one — the tuned row documents the operator's FLOOR,
    not a different operator. Correctness pins (stream == batch) are
    conf-independent and stay in pytest.
    """
    import shutil
    import tempfile

    import cocoindex_data_ingestion_spark.streaming.events as se
    from cocoindex_data_ingestion_spark.plans.ivm import MaterializedAgg
    from cocoindex_data_ingestion_spark.session import (
        streaming_conf as se_conf,
    )
    from cocoindex_data_ingestion_spark.sources.tables import load_table

    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    src = os.path.join(tmp, "src")
    base = load_table(
        spark, "events", sf_dir
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")
    base.repartition(10).write.parquet(src)
    n_src = base.count()

    results: dict[str, dict] = {}

    def finish(name: str, q, t0: float, rows: int,
               finished: bool = True) -> None:
        # rows = true source rows consumed (progress numInputRows
        # over-counts when foreachBatch actions re-read the batch)
        wall = round(time.time() - t0, 3)
        if not finished:
            # awaitTermination timed out: the stream is still live —
            # stop it before touching progress, and flag the record
            # instead of reporting partial throughput as if complete
            # (r5 advisor finding).
            q.stop()
            q.awaitTermination(60)
            results[name] = {"rows": rows, "wall_sec": wall,
                             "timed_out": True}
            return
        prog = q.recentProgress
        batches = [p for p in prog if p["numInputRows"] > 0]
        durs = [p["durationMs"]["triggerExecution"] for p in batches]
        results[name] = {
            "rows": rows,
            "n_batches": len(batches),
            "wall_sec": wall,
            "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
            "batch_ms_avg": round(sum(durs) / len(durs), 1) if durs else None,
            "batch_ms_max": max(durs) if durs else None,
        }

    def stream():
        return se.read_events_stream(spark, src, max_files_per_trigger=1)

    # Per-op tuned confs — DERIVED via session.streaming_conf (r9
    # verdict directive #4), not hand-carried literals. r9 context:
    # the RocksDB state-store provider is the SESSION DEFAULT, so
    # untuned rows inherit it and the _tuned rows isolate exactly the
    # part that is NOT a safe default: shuffle/state partition COUNT
    # (workload sizing — at 100 TB event volume the wide untuned
    # shape is the right one).
    #
    # - interval join: per-batch state is the rows buffered inside
    #   the 30-min lookback until the watermark passes them — about
    #   one micro-batch of purchases+clicks (~4k rows × ~100 B ≈
    #   0.4 MB), so the size rule gives 1 partition. Measured parity
    #   vs the old hand-tuned 4 (isolated sf0.1 A/B, min of 2 reps:
    #   1 part → 9.47 s, 2 → 9.48, 4 → 10.66): the derived conf is
    #   at parity or slightly better — store-instance commit
    #   overhead, not parallelism, dominates at this state size.
    # - upsert/IVM: state is equally tiny, but their per-batch work
    #   is Arrow/python-stage-bound, so the PARALLELISM FLOOR (16
    #   workers — the r5-r9 tuned value) dominates the size rule;
    #   the helper makes that second master explicit.
    TUNED_JOIN = se_conf(
        expected_state_rows=4_000, bytes_per_row=100
    )
    TUNED_PY = se_conf(
        expected_state_rows=4_000, bytes_per_row=100,
        parallelism_floor=16,
    )

    def with_conf(conf: dict, fn):
        saved = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            return fn()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def run_upsert(suffix: str) -> None:
        t0 = time.time()
        q = (
            se.ordinal_upsert_stream(stream())
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation",
                    os.path.join(tmp, "ckpt_upsert" + suffix))
            .trigger(availableNow=True)
            .start()
        )
        done = q.awaitTermination(600)
        finish("ordinal_upsert_stream" + suffix, q, t0, n_src,
               finished=done)

    def run_ivm(suffix: str) -> None:
        view = MaterializedAgg(
            spark, os.path.join(tmp, "ivm_state" + suffix),
            group_col="event_type", sum_cols=("value",), n_buckets=8,
        )
        t0 = time.time()
        q = (
            stream()
            .writeStream.foreachBatch(se.foreach_batch_ivm(view))
            .option("checkpointLocation",
                    os.path.join(tmp, "ckpt_ivm" + suffix))
            .trigger(availableNow=True)
            .start()
        )
        done = q.awaitTermination(600)
        finish("foreach_batch_ivm" + suffix, q, t0, n_src, finished=done)

    def run_join(suffix: str) -> None:
        purchases = stream().filter("event_type = 'purchase'").select(
            "user_id", "ts", "event_id"
        )
        clicks = stream().filter("event_type = 'click'").select(
            "user_id", "ts", "event_id"
        )
        t0 = time.time()
        q = (
            se.interval_join(purchases, clicks, lookback="30 minutes")
            .select("event_id", "r_event_id")
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation",
                    os.path.join(tmp, "ckpt_join" + suffix))
            .trigger(availableNow=True)
            .start()
        )
        done = q.awaitTermination(600)
        finish("interval_join" + suffix, q, t0, 2 * n_src, finished=done)

    def best_of(run, base: str, suffix: str, reps: int = 3) -> None:
        # streaming rows are single 10-micro-batch replays and swing
        # ±35% run-to-run on a shared host (they triggered false
        # ">25% regression" flags in two consecutive rounds) — apply
        # the SAME min-of-reps rule the batch rows use; the minimum
        # is the reproducible engine cost. reps=3 since r10 to match
        # the batch rows' min-of-3 exactly (min-of-2 let one bad rep
        # pair inflate the r10 upsert rows 23.5/26.1 vs isolated
        # re-measures of 17.7/15.7 — wall_spread records n_reps, so
        # artifacts stay self-describing).
        recs = []
        for rep in range(reps):
            tag = f"{suffix}_rep{rep}"
            run(tag)
            recs.append(results.pop(base + tag))
        ok = [r for r in recs if not r.get("timed_out")]
        chosen = dict(min(ok or recs, key=lambda r: r["wall_sec"]))
        # keep the rep spread (r9 directive #3 — same rationale as the
        # batch rows' rep_spread)
        chosen["wall_spread"] = {
            "min": min(r["wall_sec"] for r in recs),
            "max": max(r["wall_sec"] for r in recs),
            "n_reps": len(recs),
        }
        results[base + suffix] = chosen

    for run, base, tuned in (
        (run_upsert, "ordinal_upsert_stream", TUNED_PY),
        (run_ivm, "foreach_batch_ivm", TUNED_PY),
        (run_join, "interval_join", TUNED_JOIN),
    ):
        best_of(run, base, "")  # untuned: session defaults (RocksDB)
        with_conf(tuned, lambda: best_of(run, base, "_tuned"))

    shutil.rmtree(tmp, ignore_errors=True)
    return results


PROBE_FLOOR_S = 1e-3


def probe_ratio(probes: list[float], floor: float = PROBE_FLOOR_S) -> float:
    """Spread of the preflight probes, max / min, on unrounded times.
    The denominator is clamped at ``floor``, so a sub-millisecond probe
    on a fast host reads as a small spread, not as a zero division."""
    return max(probes) / max(min(probes), floor)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    qs = entrymod.queries()

    # Pre-flight window canary (r11, VERDICT directive #2): the r9/r10
    # artifacts were produced in host windows the repo's own variance
    # gate (SCALING.md Round-9 postscript: ratio_p90 ≲ 1.6,
    # rows_over_1p5x ≲ 35/234) would have rejected, which turned the
    # driver's round-over-round comparison into 120 phantom
    # regressions. Probe the window with a tiny fixed plan BEFORE the
    # timed reps: if its max/min spread is already pathological, wait
    # and re-probe (up to 2 retries) so a transient spike at start
    # doesn't poison the run; the result is recorded either way, and
    # the run-level `window_degraded` flag below is what PERF should
    # key on (the canary probes only the start of the run; rep_summary
    # covers the whole run). Timing rules for the measured rows are
    # UNCHANGED.
    def _preflight() -> dict:
        probes: list[float] = []
        retries = 0
        while True:
            probes = []
            for _ in range(5):
                t0 = time.perf_counter()
                qs["q1_pricing_summary"](spark, sf_dir).collect()
                probes.append(time.perf_counter() - t0)
            ratio = probe_ratio(probes)
            shown = {"probe_sec": [round(p, 3) for p in probes],
                     "ratio": round(ratio, 3), "retries": retries}
            if ratio <= 2.5:
                return shown
            if retries >= 2:
                return {**shown, "degraded_at_start": True}
            retries += 1
            time.sleep(30)

    # warm the JVM (codegen, parquet reader, arrow paths) with the
    # same plans at the smallest SF — untimed; also build the search
    # index for the bench SF (index construction is amortized over
    # all queries, like any production index). The reference baseline
    # is warm service latency, so warm-engine numbers are the
    # comparable ones. (Warming EVERY plan was tried and is globally
    # counterproductive: the extra broadcasts/codegen classes raise
    # steady-state GC pressure ~40% across all measured queries.)
    for warm in (
        "hybrid_rrf", "q1_pricing_summary", "events_sessionize",
        "vector_knn_ivf", "dedup_minhash_lsh", "knn_maxsim",
        "q21_waiting_suppliers",
    ):
        qs[warm](spark, "/root/testdata/sf0.001").collect()
    # One-time shared-leg builds, measured EXPLICITLY (r6 directive
    # #4): every warm per-query number below excludes these, exactly
    # like the documented index amortization — this map is the cold
    # complement, so a 0.1 s warm row can never be misread as total
    # cost. Each build is keyed per (process, sf_dir): timing it here
    # both measures and pre-warms it.
    leg_builds: dict[str, float] = {}

    def _leg(name: str, fn) -> None:
        t0 = time.time()
        fn()
        leg_builds[name] = round(time.time() - t0, 3)

    _leg("search_index", lambda: entrymod._ensure_index(spark, sf_dir))
    _leg("cosupply_edges",
         lambda: entrymod._ensure_cosupply_edges(spark, sf_dir))
    _leg("two_tier_chunks", lambda: entrymod._ensure_two_tier(spark, sf_dir))
    _leg("lpa_checkpoint", lambda: entrymod._ensure_lpa(spark, sf_dir))
    _leg("cf_pairs", lambda: entrymod._ensure_cf(spark, sf_dir))
    qs["indexed_bm25_search"](spark, sf_dir).collect()
    # warm the bench-SF parquet footers/page cache (storage warm-up,
    # not query warm-up — each table scanned once, untimed)
    from cocoindex_data_ingestion_spark.sources.tables import TABLES, load_table
    for t in TABLES:
        load_table(spark, t, sf_dir).count()

    # window canary AFTER all warm-up (probes the host, not cold
    # caches) and BEFORE the timed reps
    preflight = _preflight()

    # Per-query time = min over N_REPS full executions: a single pass
    # is hostage to transient host noise (observed 2-3x swings on the
    # shared box with identical plans); the minimum is the
    # reproducible engine cost. Every rep executes the complete plan.
    # The spread the min throws away is KEPT per row (r9 verdict
    # directive #3): the variance protocol (SCALING.md Round-9
    # postscript) labels a slow row "host window" vs "regression" by
    # whether its NEIGHBOR reps/rows were also inflated — rep_spread
    # + rep_summary put that evidence in the artifact itself.
    N_REPS = 3
    rep_times: dict[str, list[float]] = {}
    rep_totals: list[float] = []
    for rep in range(N_REPS):
        t_rep = time.time()
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            if name in SMALL_RESULT:
                df.collect()
            else:
                df.count()
            rep_times.setdefault(name, []).append(
                round(time.time() - t0, 3)
            )
        rep_totals.append(round(time.time() - t_rep, 3))
    times: dict[str, float] = {n: min(v) for n, v in rep_times.items()}

    # Dual-path PCA visibility (r8 verdict directive #6): since r8
    # the registry row `embedding_pca_project` prices the
    # ORACLE-EXACT fixed-point power-iteration variant (its r8
    # 0.65 → 1.28 s move was that substitution, not a regression).
    # This companion row benches the PRODUCTION path — pca_fit's
    # moment pass + driver eigh + pca_project, same k=2, same input —
    # so both paths stay visible in bench_out.json round-over-round.
    from cocoindex_data_ingestion_spark.operators import (
        vector_search as _vs,
    )
    emb_pca = load_table(spark, "embeddings", sf_dir).filter(
        "vec_id != 0"
    )
    for rep in range(N_REPS):
        t0 = time.time()
        mean, comps, _eig = _vs.pca_fit(emb_pca, q=2)
        _vs.pca_project(emb_pca, mean, comps).count()
        rep_times.setdefault("embedding_pca_project_prod", []).append(
            round(time.time() - t0, 3)
        )
    times["embedding_pca_project_prod"] = min(
        rep_times["embedding_pca_project_prod"]
    )

    # Per-row rep spread + a run-level summary of the max/min ratios:
    # a future round reading a slow row checks `rep_spread[row]` (was
    # the row's own fast rep also slow?) and `rep_summary` (were MANY
    # rows inflated this run → host window; one row across all reps →
    # real regression) without re-measuring.
    rep_spread = {
        n: {"min": min(v), "max": max(v), "n_reps": len(v)}
        for n, v in rep_times.items()
    }
    ratios = sorted(
        s["max"] / s["min"] for s in rep_spread.values() if s["min"] > 0
    )
    rep_summary = {
        "rep_totals": rep_totals,
        "ratio_p50": round(ratios[len(ratios) // 2], 3) if ratios else None,
        "ratio_p90": round(ratios[(len(ratios) * 9) // 10], 3)
        if ratios else None,
        "rows_over_1p5x": sum(r > 1.5 for r in ratios),
    }

    # streaming surface: rows/sec + per-batch latency (one pass, not
    # min-over-reps — stream replay is already a 10-batch average).
    # Wall times also land in `queries` under stream_* so round-over-
    # round comparison picks them up like any other row.
    streaming: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        streaming = bench_streaming(spark, sf_dir)
        for name, rec in streaming.items():
            times[f"stream_{name}"] = rec["wall_sec"]

    # Cold-session rows for the SLO-compared queries (r6 directive
    # #7): fresh JVM + SparkSession per query, empty reader/plan/
    # scalar caches, prebuilt layouts shared via the env hooks — the
    # honest complement to the warm rows, so the r6 warm-latency
    # engineering can never be mistaken for data-path wins.
    cold: dict[str, float | None] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_COLD", "1") != "0":
        import subprocess

        env = dict(
            os.environ,
            SPARK_GRAFT_INDEX_DIR=entrymod._ensure_index(spark, sf_dir),
            SPARK_GRAFT_EDGES_DIR=entrymod._ensure_cosupply_edges(
                spark, sf_dir),
        )
        here = os.path.dirname(os.path.abspath(__file__))
        for name in ("indexed_bm25_search", "indexed_vector_knn",
                     "indexed_hybrid_rrf", "indexed_graph_reachability"):
            try:
                r = subprocess.run(
                    [sys.executable,
                     os.path.join(here, "tools", "bench_cold.py"),
                     name, sf_dir],
                    capture_output=True, text=True, timeout=600, env=env,
                )
                rec = json.loads(r.stdout.strip().splitlines()[-1])
                cold[name + "_cold"] = rec["cold_sec"]
            except Exception:
                cold[name + "_cold"] = None

    # Run-level window-honesty flag (r11, VERDICT directive #2): true
    # when THIS run fails the repo's own variance gate (SCALING.md
    # Round-9 postscript thresholds) or the pre-flight canary never
    # stabilized. A consumer comparing two benches should treat a
    # degraded run's per-row deltas as host-window noise, exactly the
    # way the r10 verdict had to reconstruct by hand.
    window_degraded = bool(
        (rep_summary["ratio_p90"] or 0) > 1.6
        or rep_summary["rows_over_1p5x"] > 35
        or preflight.get("degraded_at_start", False)
    )

    out = {
        "metric": "headline query suite wall-clock",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "rep_spread": rep_spread,
        "rep_summary": rep_summary,
        "window_degraded": window_degraded,
        "preflight": preflight,
        "streaming": streaming,
        "leg_builds": leg_builds,
        "cold": cold,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    line = json.dumps(out)
    print(line)
    # Trailing compact headline (r11, VERDICT directive #2): the
    # driver captures stdout via a bounded tail that has truncated the
    # full line before (BENCH_r03, BENCH_r09 lost their parsed
    # blocks). Print a second, much shorter line AFTER the full one —
    # deliberately CONTRACT-COMPLETE ({metric, value, unit, queries,
    # sf} all present, with identical values) so a consumer that picks
    # either line sees every query; it only drops the bulky per-row
    # spread/streaming-detail maps that made the full line
    # truncation-prone.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": times,
        "rep_summary": rep_summary,
        "window_degraded": window_degraded,
        "sf": out["sf"],
        "compact_headline": True,
    }
    print(json.dumps(compact))
    # Durable copy of the FULL record: survives any stdout truncation.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_out.json"), "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
