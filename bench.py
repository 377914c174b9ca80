"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line the round driver records as BENCH_r{N}.json.

Execution is forced with the noop sink (full pipeline, no driver
collect) — the honest analogue of cluster throughput.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datafusion_remote_table_spark import plans, staging
from datafusion_remote_table_spark.session import get_spark

# The 13 queries BASELINE.md's 14.09 s binds against. They run FIRST
# (before the wider suite fills the storage pool) and TWICE each with ALL
# query-owned staged state cleared before EVERY timed run (VERDICT r5
# item 5: round 5's min-of-2 let a repeat ride the persisted minhash
# staging — 0.073 s — so the min priced the cache, not the plan). Both
# runs are now cold; the min only absorbs host noise, and the gate
# number is the cost a first-time user pays.
COMPARABLE_13 = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "window_topn_per_group",
    "events_sessionize",
    "agg_distinct",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "text_langid",
]

HEADLINE = [
    *COMPARABLE_13,
    # round-2 additions: remote engine, join-heavy, and corpus-stats paths
    "remote_table_scan",
    "asof_join_events_orders",
    "dedup_simhash",
    "text_top_ngrams",
    # round-2 additions: training-data pipeline tail (chunk→pack, corpus
    # LM scoring, and the composed cleaning pipeline). The boilerplate and
    # decontamination legs run FIRST so their shared staging builds are
    # attributed to them and corpus_clean_pipeline's number is its
    # incremental assembly cost (the stagings are genuinely shared).
    "pack_sequences",
    "text_bigram_score",
    "line_dedup_boilerplate",
    "decontaminate_ngram_overlap",
    "corpus_clean_pipeline",
    # iterative clustering and weighted sampling paths
    "kmeans_embeddings",
    "sample_temperature_mix",
    "quality_repetition_signals",
    # round-3 additions: retrieval (lexical, dense, fused) + embedding QA
    "bm25_topk",
    "tfidf_top_terms",
    "hybrid_search_rrf",
    "embedding_dim_stats",
    # round-3 additions: span-level dedup census, embedding correlation QA,
    # and the event-stream behavioral analytics pair
    "dedup_substring_spans",
    "embedding_correlation_pairs",
    "events_markov_transitions",
    "events_hourly_anomaly",
    "dedup_containment",
    "embedding_pca_top_component",
    "dedup_bloom_incremental",
    # round-3 continuation: entropy quality signal, langid QA matrix,
    # embedding outlier gate, and the PQ/ADC ANN path
    "text_entropy_score",
    "corpus_language_confusion",
    "embedding_outlier_zscore",
    "ann_pq_cosine",
    # round 4: real (stdlib BMP/PPM) image decode through Arrow batches,
    # truncated-dim recall eval, per-source dup-rate report
    "multimodal_decode_real",
    "ann_matryoshka_recall",
    "dedup_rate_by_source",
    # round-4 continuation: label-aware embedding audits, dedup tuning /
    # reporting tables, and packing-efficiency readout. corpus_clean_funnel
    # runs after corpus_clean_pipeline (same stagings — its number is the
    # incremental funnel aggregate).
    "knn_label_consistency",
    "sample_hard_negatives",
    "quality_signal_correlation",
    "dedup_cluster_size_histogram",
    "pack_bin_efficiency",
    "corpus_clean_funnel",
    # round-4 continuation: SCD2 warehouse history and the near-dup-graph
    # centrality pass (runs after the minhash consumers — its number is
    # the incremental 4-round power iteration over the shared pair graph)
    "events_scd2_history",
    "dedup_graph_pagerank",
    # round-4 continuation: lakehouse maintenance (one full-outer join
    # each), constant-state sketches, and the quantile/planning pair
    "orders_merge_upsert",
    "orders_cdc_changelog",
    "approx_distinct_hll",
    "heavy_hitters_countmin",
    "quantile_sketch_orders",
    "range_partition_plan",
    # round-4 continuation: governance/monitoring family + incremental
    # maintenance (all census-then-constant-rollup shapes)
    "feature_drift_psi",
    "orders_dq_rules_audit",
    "events_bot_score",
    "split_leakage_audit",
    "ivm_incremental_agg",
    "text_zipf_audit",
    # round 5: PRF retrieval + theta sketch ride shared stagings (their
    # numbers are incremental); SQ8 rerank, fertility, and the dedup
    # mix-shift report establish their own baselines
    "query_expansion_prf",
    "theta_sketch_set_ops",
    "ann_sq8_rerank_eval",
    "tokenizer_fertility_audit",
    "dedup_mix_shift_report",
    # round 6: redesigned containment family (first consumer pays the
    # shared bigram+candidate staging; editdistance and pagerank ride it
    # — pagerank was already in the suite), experimentation pair, ensemble
    # quality rank, and the real-decode scene-cut leg
    "dedup_editdistance_verify",
    "events_ab_cuped",
    "events_ab_sprt",
    "doc_quality_ensemble",
    "embedding_knn_symmetry_audit",
    "multimodal_video_scene_cut",
    "customer_order_gap_alerts",
    # round-6 continuation: winnowing dedup (first consumer pays the
    # fingerprint staging; the accuracy eval rides it — incremental),
    # staged RAKE + a-priori censuses, the 32x bootstrap fan-out, the
    # month-spine range join, the sampling-scan AQP audit, Arrow-batch
    # image contrast, and the dual-remote reconciliation
    "dedup_winnowing",
    "winnowing_accuracy_eval",
    "text_keyword_rake",
    "basket_triples_apriori",
    "events_bootstrap_ci",
    "orders_littles_law",
    "aqp_sample_error_audit",
    "multimodal_image_contrast",
    "remote_checksum_reconcile",
    # round 9: unigram tokenizer training (first consumer pays the
    # census/vocab/segmentation staging; the BPE-vs-unigram compare
    # rides it AND the shared BPE merge chain — incremental), the URL
    # canonicalization census (pure map + host census), the nDCG
    # ranking eval (rides the bounded LSH + brute legs), and the
    # centroid-silhouette eval (rides the shared Lloyd assignment)
    "tokenize_unigram_train",
    "tokenizer_unigram_bpe_compare",
    "tokenize_unigram_apply",
    "dedup_url_canonical_census",
    "retrieval_ndcg_eval",
    "kmeans_silhouette_eval",
    # round 10: the substring-clip rewrite (first consumer of the
    # span_pos staging in this suite — dedup_span_runs is not benched,
    # so the clip's number includes the staging build), the
    # unigram prune + re-walk (first consumer pays the round-2
    # stagings), and the tokenizer roundtrip audit (one corpus explode
    # over the shared unigram + BPE stagings)
    "dedup_substring_clip",
    "tokenize_unigram_prune",
    "tokenizer_roundtrip_audit",
    # round 10 (2): t-closeness EMD gate (broadcast dim join + one
    # fact census; checkpointed per-class EMD frame) and the clip's
    # source-governance rollup (rides the span_pos staging the clip
    # already paid)
    "privacy_t_closeness_audit",
    "dedup_clip_impact_by_source",
]

# The committed read-set record: {query: [stagings it reads]} over one
# full HEADLINE pass, as the staging registry records them
# (plans/bench_detail.json "read_sets" of a run; regenerate it from there
# when a query's stagings change).
STAGE_MAP = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r11", "stage_map.json")


def load_release_points() -> dict[str, list[str]]:
    """{query: stagings to release right after it}: each staging of the
    committed read-set record goes after the LAST HEADLINE query that
    reads it (cached data competes with execution memory, so unpersist
    when done). Multi-GB stagings used to stay resident until
    the wide set ended, and the deferred ContextCleaner work landed as
    one 10-190 s "cleanup storm" on whichever unrelated query ran next
    (r10: embedding_pca_top_component 38.9 s vs ~1.2 s quiet). Releasing
    happens between timed regions, and every staging is still BUILT
    inside its first consumer's timed run, so the cold convention is
    untouched. The registry keeps a released parent alive while a
    lineage-holding child lives (staging.py)."""
    with open(STAGE_MAP) as fh:
        read_sets = json.load(fh)
    last = {}
    for q in HEADLINE:
        for name in read_sets.get(q, ()):
            last[name] = q
    out: dict[str, list[str]] = {}
    for name, q in sorted(last.items()):
        out.setdefault(q, []).append(name)
    return out


def _default_driver_mem(target_gb: int = 32) -> str:
    """Largest of 4g..target_gb that fits in ~half of detected RAM.

    Reads MemTotal (and the cgroup-v2 limit when set) so a smaller or
    container-limited host gets a heap the kernel will actually grant
    instead of the bench host's 24g.
    """
    avail_gb = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    avail_gb = int(line.split()[1]) / (1024 * 1024)
                    break
    except OSError:
        pass
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            raw = fh.read().strip()
        if raw != "max":
            cg_gb = int(raw) / (1024**3)
            avail_gb = cg_gb if avail_gb is None else min(avail_gb, cg_gb)
    except (OSError, ValueError):
        pass
    if avail_gb is None:
        return f"{target_gb}g"
    return f"{max(4, min(target_gb, int(avail_gb // 2)))}g"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # local small-SF parquet is a few MB per table; 4MB splits engage all
    # cores (a cluster run keeps the 128MB default — see session.py)
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024))
    # the headline set persists several staged frames (minhash shingles/
    # sigs, span grams, bloom corpus hashes, embedding views); at the
    # default 8g the storage pool evicts them mid-run and late queries
    # re-pay upstream stages (dedup_bloom_incremental measured 17.9 s
    # under eviction vs 2.5 s isolated). Target 32g (sized to the staged
    # working set at sf0.1, grown again in round 6 — the round-5 24g pool
    # showed late-suite re-pays on pca/substring-spans) but never more
    # than ~half of detected RAM so
    # smaller/cgroup-limited hosts don't fail the heap request — a
    # cluster sizes executor memory to its own staged working set.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # host_state (VERDICT r6 item 6, tightened r9 per VERDICT r8 item 3):
    # record 1-min loadavg at start so cross-round headline comparisons
    # can tell idle runs from loaded ones. The r8 threshold (0.25*ncpu=8)
    # stamped a loadavg-5.73 run "idle" while its comparable-13 ran 2.6x
    # slower than r7 — tighten to 0.05*ncpu and WAIT (bounded retries)
    # for the host to drain before the timed region; if it never drains,
    # stamp "contended" so a dirty measurement can't masquerade as clean.
    import time as _time

    ncpu_probe = os.cpu_count() or 1
    idle_threshold = 0.05 * ncpu_probe
    load_start = os.getloadavg()[0]
    for _ in range(6):  # up to ~3 min — loadavg_1m needs time to decay
        if load_start < idle_threshold:
            break
        # stderr, not stdout: the driver parses stdout for the one JSON
        # line and BENCH_r09 shows its capture is size-capped — stdout
        # must carry nothing but the contract line (VERDICT r10 item 2)
        print(
            f"# bench: host loadavg {load_start:.2f} >= {idle_threshold:.2f} "
            f"(0.05*{ncpu_probe} cpus); waiting 30s for it to drain",
            file=sys.stderr,
            flush=True,
        )
        _time.sleep(30)
        load_start = os.getloadavg()[0]

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    plans.load_all()

    # warm the JVM (codegen, shuffle machinery, Python workers) outside the
    # timed region by running every headline once at the smallest SF
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            try:
                plans.QUERIES[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
    # the stand-in remote DB is built from parquet once per sf_dir; a real
    # deployment's remote database already exists, so build it outside the
    # timed region
    try:
        from datafusion_remote_table_spark.plans.remote_queries import ensure_sqlite_remote

        ensure_sqlite_remote(sf_dir)
    except Exception:
        pass
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    def _cpu_snap() -> tuple[int, int]:
        """(steal_ticks, total_ticks) from /proc/stat — one line read."""
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            vals = [int(v) for v in parts[1:9]]
            return vals[7], sum(vals)
        except (OSError, ValueError, IndexError):
            return 0, 0

    # per-timed-run hypervisor steal (%): this round's stall triage found
    # roving 10-30x one-query stalls whose only correlate is CPU time
    # stolen by the host (aggregate and single-vCPU bursts) — recording
    # steal per query lets a reader of the bench separate "this plan got
    # slower" from "the VM lost its CPU for 20 s" without a re-run.
    steal_pct: dict[str, list[float]] = {}

    def _run(name: str) -> float:
        s0 = _cpu_snap()
        start = time.perf_counter()
        plans.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = round(time.perf_counter() - start, 3)
        s1 = _cpu_snap()
        dtot = s1[1] - s0[1]
        if dtot > 0:
            steal_pct.setdefault(name, []).append(round(100.0 * (s1[0] - s0[0]) / dtot, 1))
        return elapsed

    # optional per-query progress marks on STDERR (the contract line on
    # stdout is untouched) — lets an external sampler (jstat/steal) align
    # its timeline with query boundaries when diagnosing in-suite noise
    progress = os.environ.get("SPARK_GRAFT_BENCH_PROGRESS") == "1"

    def _mark(name: str, sec: float) -> None:
        if progress:
            print(f"# done {time.time():.1f} {sec:7.3f} {name}", file=sys.stderr, flush=True)

    release_after = load_release_points()
    timings: dict[str, float] = {}
    comparable_runs: dict[str, list[float]] = {}
    for name in COMPARABLE_13:
        runs = []
        for _ in range(2):
            # cold: drop all query-owned staged state so the run pays
            # the full plan (the JVM stays warm — codegen/shuffle warmup
            # is environment, staging is the query's own work)
            staging.reset(spark)
            with staging.tagged(name):
                runs.append(_run(name))
        comparable_runs[name] = runs
        timings[name] = min(runs)
        _mark(name, timings[name])
    for name in HEADLINE:
        if name not in timings:
            with staging.tagged(name):
                timings[name] = _run(name)
            _mark(name, timings[name])
            # drop dead Python-side handles between timed queries so the
            # JVM cleaner (periodic GC, session.py) sees their weak refs
            import gc

            gc.collect()
        # outside the timed region: free the stagings whose last
        # wide-set reader just ran
        staging.release(spark, sf_dir, *release_after.get(name, ()))

    total = round(sum(timings.values()), 3)
    load_end = os.getloadavg()[0]
    # external load ≈ loadavg beyond what this bench itself generates
    # (start is measured before any Spark job of the timed region runs).
    # 0.05*ncpu (= 1.6 on 32 cpus): stricter than r8's 0.25 threshold,
    # which labeled a loadavg-5.73 (2.6x-slow) run "idle" — BENCH_r08.
    host_state = "idle" if load_start < idle_threshold else "contended"
    # The contract line stays LEAN (VERDICT r10 item 2: BENCH_r09's line
    # outgrew the driver's stdout capture and round-over-round comparison
    # broke): metric/value/unit/queries/sf/cpus plus the comparable-13
    # scalar and the host stamp. Per-run detail (the comparable-13 raw
    # run pairs, the cold-convention note) goes to a side file.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "plans", "bench_detail.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(
                {
                    "comparable_13_runs": comparable_runs,
                    "comparable_13_basis": "cold",
                    "comparable_13_note": (
                        "the 13 BASELINE.md queries run first and twice with "
                        "all staged/persisted state cleared before EVERY run "
                        "(both runs cold; min absorbs host noise only) — the "
                        "gate number is full plan cost, never a cache hit"
                    ),
                    "loadavg_1m": {"start": round(load_start, 2), "end": round(load_end, 2)},
                    "steal_pct_per_run": steal_pct,
                    "read_sets": {q: sorted(v) for q, v in staging.REGISTRY.reads.items()},
                    "rebuilt_after_release": staging.REGISTRY.rebuilt_after_release,
                },
                fh,
                indent=1,
            )
    except OSError:
        pass  # read-only checkout: the contract line is self-sufficient
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "host_state": host_state,
                "cpus": spark.sparkContext.defaultParallelism,
                "comparable_13": round(sum(timings[n] for n in COMPARABLE_13), 3),
                "comparable_13_basis": "cold",
            },
            separators=(",", ":"),
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
