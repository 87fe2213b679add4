"""Per-round benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly
ONE JSON line:

    {"metric": "headline_wall_sec", "value": <total>, "unit": "sec",
     "queries": {"pair_counts": <sec>, ...}, "sf": <float>}

Each query is forced end-to-end with the `noop` sink (full computation,
no driver-side collect, no file-writing overhead) so the timing reflects
the distributed plan, not result serialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from is3107datapipelineproject_spark.session import get_spark
from is3107datapipelineproject_spark.workload import registry

# The headline set: flagship + one representative per operator family.
# Anything listed here but not registered is skipped (keeps bench green
# while coverage grows).
HEADLINE = [
    "pair_counts",
    "q3_collab_totals",
    "q1_nth_author",
    "filter_map_contains",
    "author_ordinal",
    "incremental_merge",
    "events_tumbling_window",
    "exact_dedup",
    "minhash_neardup",
    "corpus_dedup_keep",
    "cosine_topk",
    "ivf_topk",
    "text_quality",
    "xml_flatten",
    "asof_join",
    "interval_join",
    "time_rollup",
    "hash_split",
    "events_session_window",
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "promo_revenue_share",
    "curation_pipeline",
    "tfidf_top_terms",
    "decontaminate",
    "pack_sequences",
    "unigram_perplexity",
    "chunk_documents",
    "line_dedup",
    "scan_jsonl",
    "importance_resample",
    "quantize_embeddings",
    "ann_recall",
    "centroid_outliers",
    "mixture_sample",
    "volume_shipping",
    "returned_items",
    "perplexity_buckets",
    "source_quality_filter",
    "incremental_neardup",
    "events_funnel",
    "token_runs",
    "simhash_neardup",
    "boilerplate_flag",
    "salted_join_agg",
    "window_moving_sum",
    "cohort_retention",
    "agg_percentiles",
    "knn_classify",
    "key_skew_stats",
    "hll_mergeable_sketch",
    "cms_heavy_hitters",
    "split_leakage",
    "contamination_report",
    "corpus_shuffle",
    "bloom_contamination",
    "data_card",
    "corpus_diff",
    "incremental_curation",
    "embedding_neardup_lsh",
    "minhash_topk_similar",
    "decontaminate_fixed_bench",
    "kmeans_assign",
    "semantic_dedup",
    "dup_ngram_fraction",
    "hard_negatives",
    "temperature_sample",
    "quality_classifier",
    "kmeans_assign_hier",
    "containment_pairs",
    "pretrain_pipeline",
    "bigram_surprisal",
    "corpus_drift",
    "blocklist_filter",
    "vocab_growth",
    "zipf_slope",
    "copurchase_pagerank",
    "fuzzy_name_match",
    "priority_sample",
    "quantile_sketch",
    "bm25_search",
    "entity_resolution",
    "related_parts_ppr",
    "running_distinct_users",
    "daily_anomaly_zscore",
    "gap_fill_interpolate",
    "session_transition_matrix",
    "window_ntile_cume",
    "bpe_merge_candidates",
    "readability_score",
    "char_entropy",
    "copurchase_triangles",
    "graph_degree_stats",
    "similar_parts_jaccard",
    "embedding_top_pc",
    "embedding_pc_projection",
    "word_pmi",
    "embedding_abtt",
    "numeric_corr",
    "ab_test_summary",
    "scd2_order_priority",
    "copurchase_communities",
    "ols_price_by_qty",
    "discount_revenue",
    "significant_parts",
    "priority_by_linestatus",
    "part_supplier_variety",
    "bulk_part_suppliers",
    "sole_returned_supplier",
    "dq_constraints",
    "chi2_terms",
    "naive_bayes_confusion",
    "pq_codes",
    "pq_topk",
    "window_time_range_avg",
    "grouping_sets_revenue",
    "mode_median_stats",
    "session_overlap_join",
    "approx_percentile_tdigest",
    "ivfpq_topk",
    "scd2_asof_lookup",
    "pq_recall",
    "vocab_coverage",
    "skyline_parts",
    "copurchase_bfs_hops",
    "repeated_spans",
    "copurchase_kcore",
    "mixture_allocation",
    "association_rules",
    "source_overlap",
    "seasonal_decompose_dow",
    "rfm_segmentation",
    "top_conversion_paths",
    "sql_interface_revenue",
    "nested_subsets",
    "embedding_skyline",
    "time_weighted_avg",
    "activity_streaks",
    "revenue_gini",
    "cusum_changepoint",
    "prefix_filter_jaccard",
    "clustering_coefficient",
    # round 6: build-once surfaces + exact-tier incremental dedup
    "edge_table_build",
    "pagerank_from_edges",
    "kcore_from_edges",
    "ann_index_build",
    "ivfpq_topk_from_index",
    "incremental_prefix_jaccard",
    # round 6 session 2: smoothing/ACF, cluster quality, binary dedup,
    # co-bucketed fact layout
    "ewma_daily_revenue",
    "autocorr_daily_revenue",
    "cluster_silhouette",
    "multimodal_exact_dedup",
    "fact_bucket_build",
    "bucketed_join_revenue",
    "zorder_events_box",
    "bpe_learn_merges",
    "ks_test_priority_revenue",
    "kmv_source_overlap",
    "dpp_modern_era_revenue",
    "ols_price_qty_discount",
    "bloom_join_brand_qty",
    "bpe_token_fertility",
    "time_to_convert_quantiles",
    "classifier_calibration",
    "winsorized_revenue_stats",
    "quality_auc",
    "precision_recall_curve",
    "multiplier_bootstrap_ci",
    "kneser_ney_bigram",
    "fk_integrity_audit",
    "trend_robust_stats",
    "group_exact_percentiles",
    "stream_static_enrich",
    "markov_next_event_accuracy",
    "mmr_rerank",
    "join_cardinality_estimate",
    "embedding_release_drift",
    "rrf_fusion",
    "conformal_price_interval",
    "revenue_moments",
    "deletion_cascade_audit",
    "funnel_dropoff_significance",
    "subgroup_auc_audit",
    "order_total_reconciliation",
    "cohort_ltv_curve",
    "ivf_probe_sweep",
    # round 7: amortized graph twins + incremental ANN index maintenance
    # + the Interactive-2 nested-schema twin
    "bfs_from_edges",
    "ppr_from_edges",
    "ann_index_append",
    "dblp_pair_lookup",
    "pagerank_from_merged_edges",
    # round 8: PassJoin edit-distance dedup tier, sliding distinct
    # (WAU), median/MAD robust outliers
    "title_edit_neardup",
    "rolling_active_users",
    "robust_zscore_days",
    "relational_division",
    "user_active_time",
    # round 9: incremental twins of the edit-distance and semantic
    # dedup tiers (the tier matrix closes)
    "incremental_edit_neardup",
    "incremental_semantic_neardup",
    # round 9: incremental connected-components maintenance (cluster
    # labels fold forward through the batch's new edges by contraction)
    # and its deletion-aware twin (affected-cluster-local rebuild)
    "incremental_neardup_clusters",
    "cluster_retract",
    # round 9: ANN-index lifecycle purge (partition-pruned delete)
    "ann_index_delete",
    # round 9: order deletion folded into the maintained co-purchase
    # graph (negative-arc retraction)
    "edge_table_retract",
    # round 9: the cluster family's amortized twins (persisted labels)
    "neardup_clusters_from_state",
    "corpus_dedup_keep_from_state",
    # round 10: the purge story's amortized twin — retraction off the
    # persisted label + band/signature tables (affected-cluster-bounded
    # work; the tables are built during the warm-up run, so the timed
    # row is the steady-state retraction cost → amortized tier)
    "cluster_retract_from_state",
]


# Tier map for subtotal reporting (round-8 verdict item): the headline
# mixes two cost classes on purpose — "build" queries pay a full
# artifact (re)build per run BY DESIGN (their oracles verify the whole
# build: the rebuild-tier graph queries re-derive the pair-gen edge
# table every time; the *_build/_append queries materialize catalog
# tables), while "amortized" queries are the production steady-state
# paths. Splitting the subtotals keeps round-over-round comparisons
# from charging the rebuild tier's deliberate cost against the
# steady-state trend. Membership here only affects REPORTING.
BUILD_TIER = {
    # full-rebuild-per-query graph family (amortized twins: *_from_edges)
    "incremental_neardup_clusters",  # rebuilds corpus labels per call; production reads cluster_ingest_sink's table
    "cluster_retract",  # same: the per-call label rebuild is the demo cost
    "ann_index_delete",
    "edge_table_retract",
    "copurchase_pagerank",
    "copurchase_kcore",
    "copurchase_bfs_hops",
    "copurchase_triangles",
    "copurchase_communities",
    "related_parts_ppr",
    "clustering_coefficient",
    # build-once artifact materializers (guarded: steady-state cost once
    # built, but their first run in a fresh warehouse pays the build)
    "edge_table_build",
    "ann_index_build",
    "ann_index_append",
    "fact_bucket_build",
    "neardup_clusters_from_state",  # first run in a fresh warehouse pays the label build
    "corpus_dedup_keep_from_state",
}


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


# perfbench's process-tree CPU meter, imported by path (appended, so its
# modules never shadow others). It keys each process by (pid, start
# time), so a Python worker reaped inside a timed span is not counted
# twice.
sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
import proctree  # noqa: E402


def _jobs_now(spark) -> int:
    """Total Spark jobs submitted so far in this session (the
    DAGScheduler's monotone job-id counter). -1 when the internal API is
    unavailable — the bench must never fail over a diagnostics column."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())
    except Exception:  # noqa: BLE001 — diagnostics only
        return -1


def _timed(fn, spark, sf_dir: str) -> tuple[float, float, int]:
    """Warm-up run (codegen compile, Python-worker fork, parquet
    footer/file-index caches), then a timed fresh-plan run; sub-second
    queries get two MORE timed runs and report the median — there the
    ~0.1 s box-load jitter dominates the signal (the r3→r4 "drift"
    diagnosis) — while slow queries report the single run. The timed
    span includes plan CONSTRUCTION — iterative operators execute
    driver-side loops there, and excluding that would under-report
    them. Returns (wall_sec, cpu_sec, n_jobs) for the reported run —
    cpu/jobs are measured over exactly the same span as the wall time."""

    def one_run() -> tuple[float, float, int]:
        c0, j0 = proctree.snapshot(), _jobs_now(spark)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        jobs = _jobs_now(spark) - j0 if j0 >= 0 else -1
        return wall, sum(proctree.cpu_between(c0, proctree.snapshot()).values()), jobs

    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    first = one_run()
    if first[0] >= 1.0:
        return first
    runs = [first, one_run(), one_run()]
    return sorted(runs, key=lambda r: r[0])[1]


def _annex_names(all_names, here: str | None = None) -> list[str]:
    """The NON-headline registered queries benched this run — the bench
    annex (round-8 verdict item 4: 81 registrations had no current
    bench row, so a drift in a real-but-demoted operator was
    invisible). Default: a deterministic HALF of the pool, alternated
    by round parity (count of committed BENCH_r*.json files), so every
    non-headline query gets a bench row at most 2 rounds old without
    doubling bench wall-clock. SPARK_GRAFT_BENCH_ANNEX=all benches the
    whole pool (--full mode); =0/off disables. ``here`` overrides the
    artifact directory (tests point it at a fixture dir)."""
    mode = os.environ.get("SPARK_GRAFT_BENCH_ANNEX", "half").lower()
    if mode in ("0", "off", "none"):
        return []
    pool = sorted(n for n in all_names if n not in HEADLINE)
    if mode == "all":
        return pool
    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    import glob
    import json as _json

    parity = len(glob.glob(os.path.join(here, "BENCH_r*.json"))) % 2
    half = [n for i, n in enumerate(pool) if i % 2 == parity]
    # NEVER-BENCHED queries ride this round's annex regardless of their
    # parity slot (SURVEY §5.7, round-11 standing rule): the oracle can
    # be green while the plan is 240× off — repetition_stats was caught
    # only by its FIRST annex bench — so no new registration may wait a
    # round for its first timing. "Benched before" = present in the
    # EVER-BENCHED LEDGER (BENCH_LEDGER.json, unioned after every run).
    # The round-11 shape read only the LAST BENCH_DETAIL.json, which
    # re-classified the OTHER parity half (benched two runs ago, absent
    # from the last detail) as never-benched — the annex quietly grew
    # 40 -> 61 and defeated the halving policy. With no ledger yet, the
    # last detail is the (over-approximating but safe) fallback.
    benched: set[str] = set()
    try:
        with open(os.path.join(here, "BENCH_LEDGER.json")) as f:
            benched.update(_json.load(f)["benched"])
    except (OSError, ValueError, AttributeError, TypeError, KeyError):
        try:
            with open(os.path.join(here, "BENCH_DETAIL.json")) as f:
                rec = _json.load(f)
            benched.update(rec.get("queries", {}))
            benched.update(rec.get("annex", {}))
        except (OSError, ValueError, AttributeError, TypeError, KeyError):
            # unreadable OR structurally-unexpected files (hand-edited,
            # truncated): fall back to the plain parity rotation rather
            # than aborting the whole bench before any timing
            return half
    never = [n for n in pool if n not in benched and n not in half]
    return never + half


def _update_ledger(here: str, names) -> None:
    """Union this run's timed names into the ever-benched ledger — the
    durable 'had its first timing' record _annex_names consults, so a
    query benched in EITHER parity half never rides as never-benched
    again. Merge-don't-replace: a --full or filtered run must not erase
    history."""
    path = os.path.join(here, "BENCH_LEDGER.json")
    benched: set[str] = set(names)
    try:
        with open(path) as f:
            benched.update(json.load(f)["benched"])
    except (OSError, ValueError, TypeError, KeyError):
        pass
    with open(path, "w") as f:
        json.dump({"benched": sorted(benched)}, f, indent=1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Self-heal crash leftovers from a previously killed bench/probe
    # BEFORE any timing (README ops section): a wedged marker-guarded
    # warehouse table would otherwise fail its query mid-bench. Runs
    # outside every timed span; opt out with SPARK_GRAFT_NO_DOCTOR=1.
    if not os.environ.get("SPARK_GRAFT_NO_DOCTOR"):
        try:
            here0 = os.path.dirname(os.path.abspath(__file__))
            sys.path.insert(0, os.path.join(here0, "tools"))
            import state_doctor as _SD

            wh = os.path.join(os.getcwd(), "spark-warehouse")
            for root in {os.path.join(here0, "spark-warehouse"), wh}:
                if os.path.isdir(root):
                    for f in _SD.repair(_SD.diagnose(root)):
                        print(f"doctor: {json.dumps(f)}", file=sys.stderr, flush=True)
        except Exception as ex:  # noqa: BLE001 — the doctor must never kill a bench
            print(f"doctor: skipped ({ex})", file=sys.stderr, flush=True)
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()

    # Warm the session once (JVM JIT, codegen, file-index, noop sink)
    # so the first timed query doesn't absorb one-time setup cost.
    qs["agg_count_by_year"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    annex: dict[str, float] = {}
    # Diagnostics columns (round-12 verdict item 2, additions-only): per
    # query executor CPU seconds and Spark job count over the SAME timed
    # span as the wall number. Detail-file only — the one-line JSON
    # contract is unchanged.
    cpu_sec: dict[str, float] = {}
    n_jobs: dict[str, int] = {}
    total = 0.0
    n_done = 0
    annex_list = _annex_names(qs.keys())
    for name, sink in [(n, timings) for n in HEADLINE] + [(n, annex) for n in annex_list]:
        fn = qs.get(name)
        if fn is None:
            continue
        dt, cpu, jobs = _timed(fn, spark, sf_dir)
        sink[name] = round(dt, 3)
        cpu_sec[name] = round(cpu, 3)
        n_jobs[name] = jobs
        if sink is timings:
            total += dt
        n_done += 1
        # Block-manager hygiene: checkpoint-heavy queries leave
        # localCheckpoint RDD blocks behind until the driver GCs the
        # py4j handles and ContextCleaner reaps them — left alone, the
        # accumulated blocks inflate LATER queries' times (the r5/r6
        # "in-session drift": same queries are fast again in a fresh
        # session). Forcing a driver+JVM GC every 20 queries keeps the
        # session young without changing what is measured (the GC runs
        # OUTSIDE the timed spans).
        if n_done % 20 == 0:
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()

    # The emitted line must fit the driver's bounded tail capture even as
    # the headline set grows (round 4's 84-query line overflowed it and
    # recorded "parsed": null): headline fields FIRST, 2-dp rounding,
    # compact separators, and the inline per-query dict capped at the
    # slowest N — the complete detail goes to BENCH_DETAIL.json beside
    # this script (committed per round, so nothing is lost).
    build_total = sum(v for k, v in timings.items() if k in BUILD_TIER)
    tiers = {
        "build": round(build_total, 2),
        "amortized": round(total - build_total, 2),
    }
    annex_total = round(sum(annex.values()), 2)
    here = os.path.dirname(os.path.abspath(__file__))
    _update_ledger(here, set(timings) | set(annex))
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_wall_sec",
                "value": round(total, 3),
                "unit": "sec",
                "sf": _sf_of(sf_dir),
                "n_queries": len(timings),
                "tiers": tiers,
                "queries": timings,
                # the rotating non-headline annex: separate dict, never
                # part of the headline total, so round-over-round
                # headline continuity is undisturbed
                "annex_wall_sec": annex_total,
                "n_annex": len(annex),
                "annex": annex,
                # additions-only diagnostics (headline + annex, same timed
                # span as the wall number): executor CPU via the process
                # tree's /proc accounting, job count via the DAGScheduler
                # counter (-1 if that internal API ever goes away)
                "cpu_sec": cpu_sec,
                "n_jobs": n_jobs,
            },
            fh,
            indent=1,
        )
    # top-20: round 5's 45-entry line STILL truncated in the driver's
    # tail capture (BENCH_r05 kept 45/143 but clipped mid-dict); 20
    # slowest fits with ample margin and is the part anyone reads.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    print(
        json.dumps(
            {
                "metric": "headline_wall_sec",
                "value": round(total, 2),
                "unit": "sec",
                "sf": _sf_of(sf_dir),
                "n_queries": len(timings),
                "tiers": tiers,
                "annex_wall_sec": annex_total,
                "n_annex": len(annex),
                "detail": "BENCH_DETAIL.json",
                "queries": {k: round(v, 2) for k, v in slowest.items()},
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
