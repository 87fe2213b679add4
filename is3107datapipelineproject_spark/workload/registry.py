"""Query registry: every operator from SURVEY.md §2 registers here as a
(name, spark-callable, DuckDB-oracle-SQL) triple.

The driver contract (``__spark_entry__.py``) runs each callable at
sf=0.01 and compares row-count + schema + order-insensitive value hash
against the oracle SQL executed by DuckDB on the same parquet files.
Column names AND types must therefore match exactly between the two —
alias every computed column on both sides, and pin integer widths with
explicit casts (Spark ``count()`` is BIGINT; DuckDB ``year()`` is BIGINT
where Spark's is INT, etc.).

Queries with no SQL-expressible twin (stateful streaming, approximate
sketches) register with ``oracle=None`` → the driver records a weaker
rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):  # decorator
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags)
        return fn

    return deco


# --- split-structure probes (round 12, per the round-11 verdict) -------
#
# The driver's oracle comparison certifies AGREEMENT, not non-triviality:
# incremental_blocked_jaccard's first registration split batches on
# doc_id % 5 while the testdata assigns source = src(doc_id % 20) — every
# block landed entirely on one side, both engines returned 0 rows, and
# the query would have stayed green forever. The round-11 guard
# (every oracle non-empty at sf0.01) catches an EMPTY output; it cannot
# catch a split query whose output is non-empty while one side (or the
# crossing structure) is degenerate. So every incremental / split /
# holdout / sampling registration also carries a SPLIT PROBE: a callable
# (spark, sf_dir) -> dict of named structural counts — each side's size
# plus a crossing witness (shared blocks, candidate pairs, held-out
# hits, rejected arrivals, dropped sample rows …). The registry test
# asserts EVERY count ≥ 1 at sf0.01, and a meta-test forces any new
# registration whose name matches the family pattern to add a probe.

SplitProbeFn = Callable[[SparkSession, str], dict]

SPLIT_PROBES: dict[str, SplitProbeFn] = {}


def split_probe(name: str):  # decorator, mirrors register()
    def deco(fn: SplitProbeFn) -> SplitProbeFn:
        if name in SPLIT_PROBES:
            raise ValueError(f"duplicate split probe: {name}")
        SPLIT_PROBES[name] = fn
        return fn

    return deco


def split_probes() -> dict[str, SplitProbeFn]:
    """All registered split probes (loads the probe module)."""
    _ensure_loaded()
    from is3107datapipelineproject_spark.workload import split_probes as _sp  # noqa: F401

    return dict(SPLIT_PROBES)


# Queries with the thinnest external-correctness evidence go first so a
# prefix sample of the registry exercises them before the repeatedly
# checked core.  Ordering is presentation-only: every query is registered
# exactly once and the full dict always contains all of them.
#
# STANDING RULE (round-7, per the round-6 verdict): the driver samples
# the FIRST 50 entries each round, so a round may add at most
# (50 − #never-sampled-backlog − #edited-this-round) new queries — the
# registry must never again outgrow the evidence window.
#
# AGE-ROTATION RULE (round-8, per the round-7 verdict): with the
# never-sampled backlog at zero, the window rotates by verification AGE —
# (1) queries whose plans/code paths were EDITED since their last green
# row lead (their old evidence is stale), then (2) all other queries
# ordered by last-driver-verified round ASCENDING, ties alphabetical,
# truncated to the 50-slot window. `tools/evidence_gap.py --rotation`
# computes the ordering mechanically from CORRECTNESS_r*.json; regenerate
# the list below each round. EDITED-PATHS-FIRST overrides age when a
# round rewrites shared operators: round 12's optimizer edits (rank
# when-tree, word_shingles zip_with, pair/LSH double-explode, lazy
# checkpoints) landed AFTER the r12 window was set, so the r13 window
# below samples those families plus round 13's own targets; the r7
# age cohort (45 queries, deferred from r12's plan) heads round 14.
_EVIDENCE_PRIORITY: tuple[str, ...] = (
    # --- ROUND 13 WINDOW (edited-paths-first rule, per the r12 verdict):
    # the r12 optimizer rewrote the rank-bucket expression (11 consumers),
    # word_shingles (~16 consumers), the pair/LSH generators and the
    # checkpoint discipline, but the r12 window — set BEFORE those edits —
    # sampled almost none of them. This window therefore front-loads the
    # r12-edited families plus the queries round 13 itself touches
    # (ivf_probe_sweep, approx_percentile_tdigest, the curation /
    # llm-selection checkpoint consumers). The age rotation (r7 cohort)
    # resumes round 14. ---
    # (0) the Q3/Q4 collaboration totals, rewritten as one-pass counts
    "dblp_collab_totals",
    "q3_collab_totals",
    "q4_collab_year",
    # (1) round-13 touched paths + their curation/llm checkpoint consumers
    "incremental_neardup_clusters",
    "ivf_probe_sweep",
    "approx_percentile_tdigest",
    "vocab_build",
    "vocab_growth",
    "word_pmi",
    "incremental_curation",
    "curation_pipeline",
    "token_budget_sample",
    "mixture_sample",
    "pretrain_pipeline",
    # (2) r12 rank-bucket when-tree consumers (0/11 sampled in r12)
    "winsorized_revenue_stats",
    "group_exact_percentiles",
    "trend_robust_stats",
    "rfm_segmentation",
    "revenue_gini",
    "conformal_price_interval",
    "window_ntile_cume",
    "time_to_convert_quantiles",
    "ks_test_priority_revenue",
    "quality_auc",
    "multiplier_bootstrap_ci",
    # (3) r12 word_shingles zip_with consumers not re-sampled in r12
    "minhash_neardup",
    "minhash_topk_similar",
    "neardup_clusters",
    "neardup_clusters_from_state",
    "cluster_retract",
    "cluster_retract_from_state",
    "corpus_dedup_keep",
    "corpus_dedup_keep_from_state",
    "dup_cluster_sizes",
    "containment_pairs",
    "doc_fingerprint",
    "decontaminate",
    "decontaminate_fixed_bench",
    "bloom_contamination",
    "split_leakage",
    # (4) r12 pair_counts/LSH double-explode consumers not re-sampled
    "pair_counts",
    "copurchase_bfs_hops",
    "copurchase_triangles",
    "related_parts_ppr",
    "similar_parts_jaccard",
    "simhash_neardup",
    "embedding_neardup_lsh",
    "graph_degree_stats",
    # (5) r12 lazy-checkpoint consumers not re-sampled (semantic_dedup,
    # incremental_semantic_neardup, embedding_abtt and embedding_top_pc
    # fell past the 50-slot window and head the next one)
    "kmeans_assign",
    "kmeans_assign_hier",
)


def _ordered() -> dict[str, QuerySpec]:
    _ensure_loaded()
    first = {n: REGISTRY[n] for n in _EVIDENCE_PRIORITY if n in REGISTRY}
    rest = {n: s for n, s in REGISTRY.items() if n not in first}
    return {**first, **rest}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from is3107datapipelineproject_spark.workload import (  # noqa: F401
        curation_queries,
        domain_queries,
        graph_queries,
        llm_queries,
        quality_queries,
        star_queries,
        tpch_queries,
        window_queries,
    )

    _LOADED = True
