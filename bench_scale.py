"""Scaling harness: how do the corpus operators behave as the input
grows 1x -> 4x -> 16x beyond sf0.1?

Builds perturbed replicas of documents.parquet (each copy keeps a
deterministic 80% word subsample keyed by copy index, so shingle sets
across copies are dissimilar and the near-dup workload scales linearly
instead of degenerating into giant identical-doc buckets — exact dedup
owns identical docs). Prints one JSON line per (scale, query).

Usage: python bench_scale.py [--scales 1,4,16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

QUERIES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "bm25_topk",
    "tfidf_top_terms",
    "text_quality_score",
    # corpus heavies
    "text_bigram_score",
    "line_dedup_boilerplate",
    "quality_repetition_signals",
    "corpus_clean_pipeline",
    "dedup_clusters",
    "dedup_keep_best",
    # round-8 additions
    "events_entropy_rate",
    "orders_newsvendor_plan",
    "sample_neyman_allocation",
    "sample_dup_aware_weights",
    "dedup_capture_recapture",
    "text_js_divergence_sources",
    "multimodal_color_histogram_census",
    "dedup_union_cascade_efficiency",
    # embedding family
    "kmeans_embeddings",
    "ann_ivf_cosine",
    # round-6 continuation: winnowing family + corpus-census analytics
    "dedup_winnowing",
    "winnowing_accuracy_eval",
    "text_keyword_rake",
    "text_burrows_delta",
    "doc_length_wasserstein",
    "shard_consistent_hash_audit",
    "semdedup_embedding",
    "embedding_dim_stats",
    "dedup_embedding_cosine",
    # events family
    "events_sessionize",
    "events_gap_fill_locf",
    "events_funnel",
    "retention_cohorts",
    # chunk/pack + corpus stats
    "doc_chunk_tokens",
    "pack_sequences",
    "text_top_ngrams",
    "decontaminate_ngram_overlap",
    "quality_perplexity_buckets",
    "global_shuffle_shards",
    # round-3 late additions: span census, correlation QA, event analytics
    "dedup_substring_spans",
    "embedding_correlation_pairs",
    "events_markov_transitions",
    "events_hourly_anomaly",
    "dedup_containment",
    "embedding_pca_top_component",
    "dedup_bloom_incremental",
    "simhash_accuracy_eval",
    "events_top_paths",
    # round-3 continuation: entropy, langid QA, outlier gate, PQ ANN
    "text_entropy_score",
    "corpus_language_confusion",
    "embedding_outlier_zscore",
    "ann_pq_cosine",
    "ann_ivfpq_cosine",
    "tokenize_bpe_train",
    # round 4: stdlib image decode (per-row map work — must stay linear),
    # truncated-dim recall (bounded-query brute force), per-source dup
    # report (joins over the shared stagings)
    "multimodal_decode_real",
    "ann_matryoshka_recall",
    "dedup_rate_by_source",
    "embedding_dedup_threshold_sweep",
    "quality_signal_correlation",
    "knn_label_consistency",
    "sample_hard_negatives",
    "dedup_cluster_size_histogram",
    "bpe_vocab_coverage",
    "pack_bin_efficiency",
    "corpus_clean_funnel",
    "minhash_band_scurve",
    "ann_recall_vs_probes",
    # round-4 continuation: data-selection + span-run ops (token explode +
    # tiny-key census shapes — must stay linear)
    "dsir_importance_weights",
    "nb_lang_classifier",
    "dedup_span_runs",
    "corpus_epoch_plan",
    "multimodal_resize_real",
    # round-4 continuation (2): iterative kNN graph, layout audit, and the
    # audio/phash multimodal legs
    "nn_descent_knn",
    "zorder_layout_audit",
    "multimodal_image_phash",
    "multimodal_audio_real",
    # round-4 continuation (3): SCD2 history, near-dup-graph centrality,
    # and the JL-projection recall eval
    "events_scd2_history",
    "dedup_graph_pagerank",
    "ann_random_projection_recall",
    "text_ngram_novelty",
    "ann_graph_search_eval",
    "events_concurrency_hourly",
    "events_churn_features",
    "events_dau_mau",
    "sample_coreset_kcenter",
    "multimodal_video_real",
    "events_ab_test",
    "dedup_graph_triangles",
    # round-4 continuation (4): lakehouse maintenance (one full-outer
    # shuffle join each) and census-grain analytics
    "orders_merge_upsert",
    "orders_cdc_changelog",
    "customer_rfm_segments",
    "parts_abc_classification",
    "orders_snapshot_asof",
    "supplier_herfindahl",
    "orders_keyspace_gap_audit",
    "query_expansion_prf",
    "ngram_crossval_perplexity",
    "doc_language_entropy_by_source",
    "context_window_utilization",
    "corpus_dp_noisy_counts",
    "tokenizer_fertility_audit",
    "ann_sq8_rerank_eval",
    "lineitem_reorder_point",
    "embedding_cluster_purity",
    "events_power_users_pareto",
    "events_value_winsorized_stats",
    "multimodal_phash_neardup",
    "events_ab_srm_check",
    "part_single_source_risk",
    "embedding_pq_codebook_balance",
    "orders_cohort_ltv",
    "dedup_mix_shift_report",
    "embedding_knn_symmetry_audit",
    "multimodal_video_scene_cut",
    "lineitem_temporal_dq_audit",
    "inventory_abc_xyz",
    "theta_sketch_set_ops",
    "events_spectral_peaks",
    "events_markov_stationary",
    "events_ab_heterogeneity",
    "embedding_exact_dup_census",
    "events_linear_attribution",
    "vocab_cutoff_coverage",
    "events_markov_heldout_accuracy",
    "stream_theta_distinct_monitor",
    "events_engagement_fatigue",
    "text_burstiness_dispersion",
    "ann_filtered_search_eval",
    "demand_pattern_classification",
    "dedup_quality_interaction",
    "sample_seed_stability",
    "multimodal_audio_silence_profile",
    "events_lifetime_gamma_moments",
    "lineitem_price_index",
    "customer_tier_migration",
    "curriculum_phase_plan",
    "sample_label_balance",
    "embedding_margin_audit",
    "events_survival_curve",
    "approx_distinct_hll",
    "heavy_hitters_countmin",
    "discount_elasticity_ols",
    "text_readability",
    "text_code_detect",
    "join_skew_audit",
    "compaction_bin_plan",
    "embedding_centroid_drift",
    "dedup_graph_degree_powerlaw",
    "quantile_sketch_orders",
    "range_partition_plan",
    "table_profile_stats",
    "events_late_arrival_audit",
    "multimodal_audio_fingerprint",
    # round 9: tokenizer-training + provenance-census family
    "tokenize_unigram_train",
    "tokenizer_unigram_bpe_compare",
    "tokenize_unigram_apply",
    "dedup_url_canonical_census",
    "retrieval_ndcg_eval",
    "kmeans_silhouette_eval",
    # round 10: the substring-clip rewrite (span_pos staging + bounded
    # clip tail), the unigram prune/re-walk round, and the roundtrip
    # integrity audit (corpus explode over the shared stagings)
    "dedup_substring_clip",
    "tokenize_unigram_prune",
    "tokenizer_roundtrip_audit",
    "privacy_t_closeness_audit",
    "dedup_clip_impact_by_source",
    # round-4 continuation (5): governance/monitoring family — all
    # census-then-constant-rollup shapes that must stay linear in rows
    "split_leakage_audit",
    "events_bot_score",
    "orders_dq_rules_audit",
    "feature_drift_psi",
    "orders_benford_audit",
    "kanonymity_audit",
    "cardinality_qerror_audit",
    "events_hourly_acf",
    "pii_subject_access_report",
    "text_zipf_audit",
    # round-4 continuation (6): incremental maintenance + planning audits
    "ivm_incremental_agg",
    "file_skipping_stats",
    "join_fanout_audit",
    "events_cusum_changepoint",
    "orders_theilsen_trend",
    "sample_weighted_aes",
    "referential_integrity_audit",
    "events_forecast_ewma",
    "documents_contract_audit",
    "window_range_trailing",
    "agg_grouping_sets",
    "corpus_budget_waterfill",
    "interval_attribution_join",
    "agg_max_by",
    "events_mad_anomaly",
    "dedup_editdistance_verify",
    "events_sessionize_capped",
    "events_funnel_latency",
    "embedding_isotropy_probe",
    "shard_balance_audit",
    "customer_spend_gini",
    "bloom_semijoin_prune",
    "sample_reservoir_per_group",
    "column_histogram_report",
    "orders_duplicate_payment_audit",
    "orders_backlog_aging",
    "events_decayed_popularity",
    "orders_perfect_rate",
    "dedup_graph_assortativity",
    "hilbert_layout_audit",
    "int8_recall_eval",
    "text_lang_mixing_audit",
    "events_anova_value",
    "events_ks_test",
    "supplier_scorecard",
    "part_price_dispersion",
    "events_user_predictability",
    "dedup_method_agreement",
    "customer_credit_exposure",
    "events_weekday_profile",
    "heaps_law_audit",
    # round 7: the suite's most expensive single query shipped in r6
    # without a recorded sweep (VERDICT r6 item 4) — the triple-support
    # count must follow candidates x order fanout, not corpus^2
    "basket_triples_apriori",
    "basket_part_pairs",
    # round-7 additions: prefix postings + block windows must stay
    # linear; MMR/calibration/HT collapse to bounded censuses
    "dedup_prefix_filter_join",
    "dedup_sorted_neighborhood",
    "quality_score_calibration",
    "sample_mmr_diverse_topk",
    "sample_ht_estimator_audit",
    "events_prefixspan_subsequences",
    "multimodal_aspect_bucket_plan",
]


def _build_customer(out: str, scale: int) -> None:
    """Customer replicas shifted exactly like the orders copies shift
    o_custkey, so referential integrity holds at every scale (the RI /
    k-anonymity / subject-access sweeps need real parents)."""
    import duckdb

    target = os.path.join(out, "customer.parquet")
    if os.path.exists(target):
        return
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    src = os.path.join(BASE, "customer.parquet")
    osrc = os.path.join(BASE, "orders.parquet")
    nc = con.execute(
        f"SELECT MAX(o_custkey) + 1 FROM read_parquet('{osrc}')"
    ).fetchone()[0]
    con.execute(
        f"""
        COPY (
          SELECT c.c_custkey + k.k * {nc} AS c_custkey,
                 c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
          FROM read_parquet('{src}') c
          CROSS JOIN (SELECT unnest(generate_series(0, {scale - 1})) AS k) k
        ) TO '{target}' (FORMAT PARQUET)
        """
    )


def _copy_static(out: str, names: tuple) -> None:
    """Dimension tables the sweep doesn't scale: link them in unchanged."""
    os.makedirs(out, exist_ok=True)
    for name in names:
        target = os.path.join(out, f"{name}.parquet")
        src = os.path.join(BASE, f"{name}.parquet")
        if not os.path.exists(target) and os.path.exists(src):
            os.symlink(src, target)


def build_scaled(scale: int) -> str:
    import duckdb

    out = os.path.join(tempfile.gettempdir(), f"dfrt_scale_{scale}x")
    _build_embeddings(out, scale)
    _build_events(out, scale)
    _build_orders(out, scale)
    _build_lineitem(out, scale)
    _build_customer(out, scale)
    _copy_static(out, ("nation", "region", "supplier", "part"))
    target = os.path.join(out, "documents.parquet")
    if os.path.exists(target):
        return out
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    src = os.path.join(BASE, "documents.parquet")
    n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{src}')").fetchone()[0]
    # copy k drops word positions i ≡ -k (mod 7) or i ≡ -3k (mod 11):
    # two coprime strides make every k in 0..76 a DISTINCT ~78% subsample
    # (the first spelling, (i+k)%5 != k%5, reduced to i%5 != 0 for every
    # k — all replicas were identical, the degenerate workload this
    # harness exists to avoid)
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id + k.k * {n} AS doc_id,
                 array_to_string(
                   list_filter_helper.words, ' ') AS text,
                 d.lang, d.source,
                 CAST(length(array_to_string(list_filter_helper.words, ' ')) AS BIGINT) AS n_chars
          FROM read_parquet('{src}') d
          CROSS JOIN (SELECT unnest(generate_series(0, {scale - 1})) AS k) k
          CROSS JOIN LATERAL (
            SELECT CASE WHEN k.k = 0 THEN regexp_split_to_array(trim(d.text), '\\s+')
                   ELSE list_filter(
                     list_transform(regexp_split_to_array(trim(d.text), '\\s+'),
                                    (w, i) -> CASE WHEN (i + k.k) % 7 <> 0
                                               AND (i + 3 * k.k) % 11 <> 0
                                              THEN w ELSE NULL END),
                     w -> w IS NOT NULL)
                   END AS words
          ) list_filter_helper
        ) TO '{target}' (FORMAT PARQUET)
        """
    )
    return out


def _build_embeddings(out: str, scale: int) -> None:
    """Perturbed embedding replicas: copy k rotates each vector left by k
    positions — distinct vectors, same norm distribution, so clustering
    and ANN workloads scale without collapsing into duplicate points."""
    import duckdb

    target = os.path.join(out, "embeddings.parquet")
    if os.path.exists(target):
        return
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    src = os.path.join(BASE, "embeddings.parquet")
    n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{src}')").fetchone()[0]
    con.execute(
        f"""
        COPY (
          SELECT e.vec_id + k.k * {n} AS vec_id,
                 CASE WHEN k.k = 0 THEN e.embedding
                      ELSE e.embedding[(k.k % 64) + 1:64] || e.embedding[1:(k.k % 64)]
                 END AS embedding,
                 e.label
          FROM read_parquet('{src}') e
          CROSS JOIN (SELECT unnest(generate_series(0, {scale - 1})) AS k) k
        ) TO '{target}' (FORMAT PARQUET)
        """
    )


def _build_orders(out: str, scale: int) -> None:
    """Order replicas: copy k shifts o_orderkey and o_custkey — more
    customers and orders with the same price/date distribution, the way
    a bigger book of business looks (for the MERGE/CDC/RFM sweeps)."""
    import duckdb

    target = os.path.join(out, "orders.parquet")
    if os.path.exists(target):
        return
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    src = os.path.join(BASE, "orders.parquet")
    no, nc = con.execute(
        f"SELECT MAX(o_orderkey) + 1, MAX(o_custkey) + 1 FROM read_parquet('{src}')"
    ).fetchone()
    con.execute(
        f"""
        COPY (
          SELECT o.o_orderkey + k.k * {no} AS o_orderkey,
                 o.o_custkey + k.k * {nc} AS o_custkey,
                 o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority
          FROM read_parquet('{src}') o
          CROSS JOIN (SELECT unnest(generate_series(0, {scale - 1})) AS k) k
        ) TO '{target}' (FORMAT PARQUET)
        """
    )


def _build_lineitem(out: str, scale: int) -> None:
    """Lineitem replicas: copy k shifts l_orderkey but keeps part/supp
    keys — the fact table grows over a FIXED dimension, the way real
    fact growth looks (part.parquet is copied verbatim alongside)."""
    import duckdb
    import shutil

    target = os.path.join(out, "lineitem.parquet")
    if os.path.exists(target):
        return
    os.makedirs(out, exist_ok=True)
    shutil.copy(os.path.join(BASE, "part.parquet"), os.path.join(out, "part.parquet"))
    con = duckdb.connect()
    src = os.path.join(BASE, "lineitem.parquet")
    no = con.execute(f"SELECT MAX(l_orderkey) + 1 FROM read_parquet('{src}')").fetchone()[0]
    con.execute(
        f"""
        COPY (
          SELECT l.l_orderkey + k.k * {no} AS l_orderkey,
                 l.l_partkey, l.l_suppkey, l.l_linenumber, l.l_quantity,
                 l.l_extendedprice, l.l_discount, l.l_tax,
                 l.l_returnflag, l.l_linestatus, l.l_shipdate
          FROM read_parquet('{src}') l
          CROSS JOIN (SELECT unnest(generate_series(0, {scale - 1})) AS k) k
        ) TO '{target}' (FORMAT PARQUET)
        """
    )


def _build_events(out: str, scale: int) -> None:
    """Event replicas: copy k shifts user_id and event_id — more users
    with the same temporal shape, the way a bigger deployment looks."""
    import duckdb

    target = os.path.join(out, "events.parquet")
    if os.path.exists(target):
        return
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    src = os.path.join(BASE, "events.parquet")
    ne, nu = con.execute(
        f"SELECT COUNT(*), MAX(user_id) + 1 FROM read_parquet('{src}')"
    ).fetchone()
    con.execute(
        f"""
        COPY (
          SELECT e.event_id + k.k * {ne} AS event_id, e.ts,
                 e.user_id + k.k * {nu} AS user_id,
                 e.event_type, e.value, e.props
          FROM read_parquet('{src}') e
          CROSS JOIN (SELECT unnest(generate_series(0, {scale - 1})) AS k) k
        ) TO '{target}' (FORMAT PARQUET)
        """
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--queries", default="", help="comma-separated subset of QUERIES")
    ap.add_argument(
        "--cold",
        action="store_true",
        help="clear all staged/persisted state before EVERY query (each "
        "measurement then includes the query's full staging chain, like "
        "bench.py's comparable gate). Default keeps stagings within a "
        "scale so chain consumers (dedup_clusters after dedup_minhash_lsh) "
        "measure their marginal cost — but co-resident multi-GB stagings "
        "at 64x perturb unrelated queries 5-10x (measured round 8: "
        "semdedup_embedding 17.6 s alone vs 81.8 s with the minhash "
        "staging pinned), so scale CERTIFICATION runs use --cold.",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    if args.queries:
        subset = args.queries.split(",")
        unknown = [q for q in subset if q not in QUERIES]
        if unknown:
            ap.error(f"not in the harness set: {unknown}")
        QUERIES[:] = subset

    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024))
    # staged frames accumulate across all scales in one session — size the
    # storage pool so eviction re-execution can't masquerade as
    # superlinear scaling (same sizing + host-cap rationale as bench.py)
    from bench import _default_driver_mem

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())
    from datafusion_remote_table_spark import plans, staging
    from datafusion_remote_table_spark.session import get_spark

    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    plans.load_all()

    # JVM warm-up outside all timed regions
    for q in QUERIES:
        plans.QUERIES[q](spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()

    for scale in scales:
        sf_dir = build_scaled(scale)
        # drop the previous scale's stagings first. Round-8 find: running
        # 1x/16x/64x in one session left every earlier scale's persisted
        # minhash/embedding stagings pinned in the storage pool, and the
        # 64x run measured eviction + recompute thrash, not the operator
        # (dedup_minhash_lsh 141 s in-session vs 24 s in a fresh session)
        staging.reset(spark)
        for q in QUERIES:
            if args.cold:
                # min-of-2 (the bench.py comparable-gate convention):
                # the forced GC in staging.reset can trigger a
                # cleanup storm (block/shuffle freeing for the previous
                # query's dropped stagings) that lands on whichever
                # query runs next — measured round 8 as a roving
                # 100-180 s one-off on otherwise-10-20 s queries at
                # 64x. The min discards the storm-hit run.
                runs = []
                for _ in range(2):
                    staging.reset(spark)
                    t0 = time.perf_counter()
                    plans.QUERIES[q](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    runs.append(round(time.perf_counter() - t0, 2))
                print(
                    json.dumps(
                        {"scale": scale, "query": q, "sec": min(runs), "runs": runs}
                    ),
                    flush=True,
                )
                continue
            t0 = time.perf_counter()
            plans.QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
            print(
                json.dumps(
                    {"scale": scale, "query": q, "sec": round(time.perf_counter() - t0, 2)}
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
