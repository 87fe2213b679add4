"""Distributed k-means over an embedding column, plus the SemDeDup-style
semantic-dedup sweep built on it.

Beyond-reference surface (driver mandate): the clustering stage of a
training-data pipeline — SemDeDup (Abbas et al., 2023) clusters corpus
embeddings with k-means and drops near-duplicates WITHIN each cluster,
which confines the quadratic pair search to cluster-sized buckets the
same way minhash bands confine text near-dup.

Determinism contract (the whole point of this formulation):
- init centroids = the vectors of the k SMALLEST ids (no RNG),
- per-point assignment = argmin over squared L2 distance ROUNDED to 6
  decimals, ties broken by smaller cluster id,
- centroid update = per-(cluster, dimension) mean summed as DECIMAL
  (exact, order-independent) and rounded to 6 decimals.
Every step is reproducible bit-for-bit across engines and partitionings,
so a DuckDB oracle can replay the exact iteration.

Plan shape at 100 TB:
- assignment is NARROW: the k×dim centroid table collapses to ONE row
  (array of structs), broadcast to every task; the argmin is a per-row
  fold over that array inside whole-stage codegen — the corpus is never
  shuffled and never expanded k×.
- update is one hash-aggregate of (cluster, pos, x) triples — dim×N
  shuffle rows with map-side partial aggregation, same layout as
  similarity.bucket_centroids.
- per-iteration centroids are localCheckpoint'd (k rows) so the lineage
  stays O(1) deep and the corpus scan count is exactly
  iters + 1 (one per assignment), not exponential in iters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.operators.similarity import dot, l2_norm


def _sq_dist(vec: Column, cent: Column, decimals: int = 6) -> Column:
    """Squared L2 distance as a sequential elementwise fold (identical
    evaluation order to the oracle's list_transform + list_sum), rounded
    before any comparison so both engines agree on the argmin."""
    return F.round(
        F.aggregate(
            F.zip_with(vec, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        decimals,
    )


def _pack_centroids(cents: DataFrame) -> DataFrame:
    """(cid, centroid) → ONE row holding array<struct<cid,centroid>>
    sorted by cid — the broadcastable codebook for narrow assignment."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "centroid"))).alias("cents")
    )


def _assign(t: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the 1-row codebook, fold
    over it per point. Returns (vid, vec, cluster, d2) — no shuffle, no
    k× row expansion."""
    zero = F.struct(
        F.lit(float("inf")).alias("d2"), F.lit(-1).cast("int").alias("cid")
    )

    def merge(acc: Column, c: Column) -> Column:
        d2 = _sq_dist(F.col("vec"), c["centroid"])
        better = (d2 < acc["d2"]) | ((d2 == acc["d2"]) & (c["cid"] < acc["cid"]))
        return F.when(better, F.struct(d2.alias("d2"), c["cid"].alias("cid"))).otherwise(acc)

    best = F.aggregate("cents", zero, merge)
    return t.crossJoin(F.broadcast(_pack_centroids(cents))).select(
        "vid",
        "vec",
        best["cid"].alias("cluster"),
        best["d2"].alias("d2"),
    )


def _update(assigned: DataFrame, decimals: int = 6) -> DataFrame:
    """Lloyd update: per-(cluster, dimension) DECIMAL-exact mean →
    (cid, centroid). One hash-aggregate; k×dim output."""
    t = assigned.select(
        F.col("cluster").alias("cid"),
        F.posexplode("vec").alias("pos", "x"),
    )
    per = t.groupBy("cid", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)),
            decimals,
        ).alias("c")
    )
    return per.groupBy("cid").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]).alias(
            "centroid"
        )
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd's k-means: init from the k smallest ids, run
    ``iters`` update rounds, return the FINAL assignment
    ``(id_col, cluster, d2)`` (d2 = rounded squared distance to the
    point's final centroid).

    Per iteration: one narrow corpus scan (assignment) + one dim×N
    hash-aggregate (update). Total corpus scans = iters + 1. The k-row
    centroid frames are localCheckpoint'd each round, keeping the plan
    depth constant — the iterative-algorithm discipline from
    dedup.neardup_clusters applied to centroids instead of cluster ids.
    """
    t = _points(df, id_col, vec_col)
    final = _assign(t, _fit(t, k, iters))
    return final.select(F.col("vid").alias(id_col), "cluster", "d2")


def _points(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from is3107datapipelineproject_spark.operators.dedup import spread_small_input

    return spread_small_input(df).select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
    )


def _fit(t: DataFrame, k: int, iters: int) -> DataFrame:
    w = Window.orderBy("vid")
    cents = (
        t.orderBy("vid")
        .limit(k)
        .select((F.row_number().over(w) - 1).cast("int").alias("cid"), F.col("vec").alias("centroid"))
    )
    for i in range(iters):
        assigned = _assign(t, cents)
        cents = _update(assigned)
        # Periodic (not per-round) intermediate checkpoint: even a lazy
        # localCheckpoint costs jobs at plan-construction time
        # (.rdd forces the AQE map stages), so at the default iters=2
        # the loop builds one nested plan with no intermediate cut
        # (measured: 15 -> 12 jobs for a single-consumer caller, values
        # identical). Deep iteration counts still cut every 3rd round to
        # keep optimizer time and plan depth bounded — k rows, collapsed
        # to one partition so the cut is one task.
        if i % 3 == 2 and i != iters - 1:
            cents = cents.coalesce(1).localCheckpoint(eager=False)
    # The RETURNED frame is always checkpointed: multi-consumer callers
    # (silhouette's per-cluster passes, semantic_dedup, the two-level
    # codebook) would otherwise re-run every Lloyd round per consumer —
    # the first A/B of the no-cut variant showed exactly that
    # (cluster_silhouette 19 -> 25 jobs, +60% CPU).
    return cents.coalesce(1).localCheckpoint(eager=False)


def kmeans_fit(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8, iters: int = 2
) -> DataFrame:
    """The model half of :func:`kmeans_assign`: the FINAL ``(cid,
    centroid)`` frame (k rows) without the last assignment pass — what
    an index build persists so later queries route against stored
    centroids instead of re-running Lloyd (plans/indexes.py)."""
    return _fit(_points(df, id_col, vec_col), k, iters)


def assign_to_centroids(
    df: DataFrame, id_col: str, vec_col: str, cents: DataFrame
) -> DataFrame:
    """Nearest-centroid assignment against an EXISTING ``(cid,
    centroid)`` frame (stored or freshly fit): ``(id_col, cluster,
    d2)``. One narrow broadcast-fold pass — the query-time router of a
    persisted IVF index, and exactly the pass :func:`kmeans_assign`
    ends with, so stored assignments and re-routed ones agree
    bit-for-bit."""
    final = _assign(_points(df, id_col, vec_col), cents)
    return final.select(F.col("vid").alias(id_col), "cluster", "d2")


def assign_top2(
    df: DataFrame, id_col: str, vec_col: str, cents: DataFrame
) -> DataFrame:
    """Best AND second-best centroid per point:
    ``(id_col, cluster, d2_own, d2_alt)`` where ``d2_alt`` is the
    squared distance to the nearest OTHER centroid — the pair a
    simplified-silhouette cluster-quality audit needs. Same narrow
    broadcast-fold shape as :func:`assign_to_centroids` (corpus never
    shuffled, never expanded k×); the fold carries a (best, second)
    struct instead of just the argmin, with the identical rounded-d2 /
    smaller-cid tie rule at both ranks, so ``cluster``/``d2_own`` agree
    bit-for-bit with :func:`kmeans_assign` and ``d2_alt`` replays the
    oracle's rank-2 row. A codebook with fewer than two centroids has
    no rank-2 distance anywhere — every row's second slot would stay
    unfilled and the operator would silently return an EMPTY frame, so
    it raises ValueError instead (an all-rows drop is not a sane
    answer to "give me the two nearest")."""
    if cents.limit(2).count() < 2:
        raise ValueError(
            "assign_top2 needs a codebook with >= 2 centroids; a single-centroid "
            "codebook has no second-nearest distance (use assign_to_centroids)"
        )
    t = _points(df, id_col, vec_col)
    inf = F.lit(float("inf"))
    zero = F.struct(
        inf.alias("d1"),
        F.lit(-1).cast("int").alias("c1"),
        inf.alias("d2"),
        F.lit(-1).cast("int").alias("c2"),
    )

    def merge(acc: Column, c: Column) -> Column:
        d = _sq_dist(F.col("vec"), c["centroid"])
        beats1 = (d < acc["d1"]) | ((d == acc["d1"]) & (c["cid"] < acc["c1"]))
        beats2 = (d < acc["d2"]) | ((d == acc["d2"]) & (c["cid"] < acc["c2"]))
        return (
            F.when(
                beats1,
                F.struct(
                    d.alias("d1"), c["cid"].alias("c1"),
                    acc["d1"].alias("d2"), acc["c1"].alias("c2"),
                ),
            )
            .when(
                beats2,
                F.struct(
                    acc["d1"].alias("d1"), acc["c1"].alias("c1"),
                    d.alias("d2"), c["cid"].alias("c2"),
                ),
            )
            .otherwise(acc)
        )

    best = F.aggregate("cents", zero, merge)
    return (
        t.crossJoin(F.broadcast(_pack_centroids(cents)))
        .select(
            F.col("vid").alias(id_col),
            best["c1"].alias("cluster"),
            best["d1"].alias("d2_own"),
            best["d2"].alias("d2_alt"),
            best["c2"].alias("__c2"),
        )
        .filter(F.col("__c2") >= 0)
        .drop("__c2")
    )


def kmeans_assign_two_level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    groups: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Two-level (IVF-style) k-means assignment — the k ≫ 1000 scale
    path where the flat O(N·k·d) argmin fold stops being the plan you
    want. Returns ``(id_col, group_id, cluster, d2)``.

    1. Train k centroids exactly as ``kmeans_assign`` (init = k smallest
       ids, ``iters`` decimal-exact Lloyd rounds).
    2. Group the k centroids: super-inits = the centroids of the
       ``groups`` smallest cluster ids; each centroid joins its nearest
       super-init (rounded d2, ties to the smaller group id) — every
       group is nonempty because each super-init is distance 0 from
       itself. Routing probes = the decimal-exact MEAN of each group's
       members.
    3. Per point: argmin over the ``groups`` routing probes, then argmin
       over only that group's member centroids — O(g + k/g) distance
       folds per row instead of O(k), with the whole two-level codebook
       still ONE broadcast row.

    The group prune is the standard IVF recall tradeoff: a point whose
    true nearest centroid lives in a non-nearest group takes the
    group-local optimum (deterministically — and the oracle replays the
    same routing, so correctness checking is exact even where the
    assignment is approximate).
    """
    from is3107datapipelineproject_spark.operators.dedup import spread_small_input

    t = spread_small_input(df).select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    # same periodic-checkpoint shape as _fit: no plan cut needed
    # at the default iters=2; deep counts cut every 3rd round.
    cents = _fit(t, k, iters)

    # --- level 2: group the k centroids (k-row frames throughout) ----
    sup_init = cents.filter(F.col("cid") < groups).select(
        F.col("cid").alias("gid"), F.col("centroid").alias("scent")
    )
    pairs = cents.crossJoin(F.broadcast(sup_init)).select(
        "cid",
        "centroid",
        "gid",
        _sq_dist(F.col("centroid"), F.col("scent")).alias("gd2"),
    )
    wg = Window.partitionBy("cid").orderBy(F.col("gd2").asc(), F.col("gid").asc())
    membered = (
        pairs.withColumn("__rn", F.row_number().over(wg))
        .filter(F.col("__rn") == 1)
        .select("cid", "centroid", "gid")
    )
    probes = _update(
        membered.select(F.col("gid").alias("cluster"), F.col("centroid").alias("vec"))
    ).select(F.col("cid").alias("gid"), F.col("centroid").alias("probe"))

    codebook = (
        membered.groupBy("gid")
        .agg(F.array_sort(F.collect_list(F.struct("cid", "centroid"))).alias("members"))
        .join(probes, "gid")
        .agg(
            F.array_sort(F.collect_list(F.struct("gid", "probe", "members"))).alias("book")
        )
        .coalesce(1)
        .localCheckpoint(eager=False)
    )

    # --- per-point two-level argmin (narrow) -------------------------
    gzero = F.struct(F.lit(float("inf")).alias("d2"), F.lit(-1).cast("int").alias("gid"))

    def gmerge(acc: Column, g: Column) -> Column:
        d2 = _sq_dist(F.col("vec"), g["probe"])
        better = (d2 < acc["d2"]) | ((d2 == acc["d2"]) & (g["gid"] < acc["gid"]))
        return F.when(better, F.struct(d2.alias("d2"), g["gid"].alias("gid"))).otherwise(acc)

    czero = F.struct(F.lit(float("inf")).alias("d2"), F.lit(-1).cast("int").alias("cid"))

    def cmerge(acc: Column, c: Column) -> Column:
        d2 = _sq_dist(F.col("vec"), c["centroid"])
        better = (d2 < acc["d2"]) | ((d2 == acc["d2"]) & (c["cid"] < acc["cid"]))
        return F.when(better, F.struct(d2.alias("d2"), c["cid"].alias("cid"))).otherwise(acc)

    routed = (
        t.crossJoin(F.broadcast(codebook))
        .withColumn("__g", F.aggregate("book", gzero, gmerge))
        # book is sorted by gid and gids are dense 0..groups-1 only for
        # groups that exist; look the winner up by value, not position
        .withColumn(
            "__members",
            F.element_at(
                F.filter("book", lambda b: b["gid"] == F.col("__g.gid")), 1
            )["members"],
        )
        .withColumn("__c", F.aggregate("__members", czero, cmerge))
    )
    return routed.select(
        F.col("vid").alias(id_col),
        F.col("__g.gid").alias("group_id"),
        F.col("__c.cid").alias("cluster"),
        F.col("__c.d2").alias("d2"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    max_cluster: int = 4000,
) -> DataFrame:
    """SemDeDup: k-means-cluster the embeddings, then inside each
    cluster mark a vector as a semantic duplicate iff a SMALLER-id
    vector in the same cluster has cosine ≥ ``threshold`` to it. Returns
    ``(id_col, cluster, is_kept)`` — the keep-list decision per vector.

    The cluster is the blocking key: the quadratic pair search runs
    per-cluster, never corpus-wide (cluster granularity must grow with
    the corpus — pick k ~ √N at scale, exactly the
    embedding_neardup_pairs bucket contract). Keep rule is
    exists-smaller-neighbor, the deterministic representative choice an
    oracle can replay (no transitive-closure ambiguity).

    Hot-cluster guard (``max_cluster``): k-means on a boilerplate-heavy
    corpus routinely collapses most vectors into ONE cluster — the exact
    input SemDeDup targets — and an uncapped within-cluster self-join is
    then quadratic in corpus size. Clusters larger than ``max_cluster``
    switch to a STAR comparison: every member is compared only against
    the cluster's smallest-id vector (its deterministic representative),
    O(n) instead of O(n²) per hot cluster. The recall tradeoff (a
    member near a neighbor but far from the representative stays kept)
    is the same contract as ``max_bucket`` in the minhash/simhash
    families and ``max_block`` in fuzzy matching; the oracle replays the
    identical routing, so correctness checking stays exact.
    """
    # lazy is deterministic here: kmeans init orders by the unique vid
    asg = kmeans_assign(df, id_col, vec_col, k=k, iters=iters).localCheckpoint(eager=False)
    vecs = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    vecs = vecs.select("vid", "vec", l2_norm(F.col("vec")).alias("norm"))
    sizes = asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("csz"))  # k rows
    t = (
        asg.select(F.col(id_col).alias("vid"), "cluster")
        .join(vecs, "vid")
        .join(F.broadcast(sizes), "cluster")
    )

    # small clusters: exact all-pairs within the cluster (bounded by cap²)
    small = t.filter(F.col("csz") <= max_cluster)
    a, b = small.alias("a"), small.alias("b")
    sim = F.round(
        dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.norm") * F.col("b.norm")), 4
    )
    dup_small = (
        a.join(b, (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.vid") < F.col("b.vid")))
        .filter(sim >= threshold)
        .select(F.col("b.vid").alias("vid"))
    )

    # oversized clusters: star comparison against the min-id member —
    # the ≤k-row center table broadcasts, so the hot path is one narrow
    # scan of the hot clusters' members, never a self-join.
    big = t.filter(F.col("csz") > max_cluster)
    ctr = (
        big.groupBy("cluster")
        .agg(F.min("vid").alias("cvid"))
        .join(
            vecs.select(
                F.col("vid").alias("cvid"),
                F.col("vec").alias("cvec"),
                F.col("norm").alias("cnorm"),
            ),
            "cvid",
        )
    )
    star_sim = F.round(
        dot(F.col("vec"), F.col("cvec")) / (F.col("norm") * F.col("cnorm")), 4
    )
    dup_big = (
        big.join(F.broadcast(ctr), "cluster")
        .filter(F.col("vid") > F.col("cvid"))
        .filter(star_sim >= threshold)
        .select("vid")
    )

    dup_ids = dup_small.unionByName(dup_big).distinct()
    return (
        asg.select(F.col(id_col).alias("vid"), "cluster")
        .join(dup_ids.withColumn("__dup", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cluster",
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("is_kept"),
        )
    )


def incremental_semantic_neardup(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    max_cluster: int = 4000,
) -> DataFrame:
    """Incremental ingest twin of :func:`semantic_dedup` — the SEMANTIC
    tier of the every-batch dedup loop, completing the tier matrix
    (MinHash → incremental_neardup, PPJoin →
    incremental_prefix_jaccard, edit → incremental_edit_neardup): every
    (new vector, old vector) pair with cosine ≥ ``threshold``, blocked
    by the k-means cluster, new×old only (never old×old).

    The model is FROZEN on the corpus (the ann_index_append contract):
    centroids fit on ``old`` via the same deterministic Lloyd as the
    one-shot, arrivals route against them with
    :func:`assign_to_centroids`'s narrow broadcast fold — assignments
    are a pure per-row function of the stored model, so persisted
    corpus assignments and freshly-routed arrivals agree bit-for-bit
    and the per-ingest cost is the batch encode + one cluster-keyed
    join (the batch side broadcasts; the corpus never shuffles).

    Hot-cluster guard mirrors the one-shot's routing exactly: clusters
    whose OLD membership exceeds ``max_cluster`` switch to a STAR
    comparison of each arrival against the cluster's min-id old member
    (O(batch) instead of O(batch × cluster)); small clusters get the
    exact within-cluster pair search, bounded by batch × ``max_cluster``.
    Same recall tradeoff and the oracle replays the identical routing.

    Returns ``(new_id, old_id, cosine)``, cosine rounded to 4 dp BEFORE
    the threshold (cross-engine contract)."""
    to = _points(old, id_col, vec_col)
    cents = _fit(to, k, iters)  # frozen model, trained on the corpus
    tn = _points(new, id_col, vec_col)
    vo = to.select("vid", "vec", l2_norm(F.col("vec")).alias("norm"))
    vn = tn.select("vid", "vec", l2_norm(F.col("vec")).alias("norm"))
    o = _assign(to, cents).select("vid", "cluster").join(vo, "vid")
    n_ = _assign(tn, cents).select("vid", "cluster").join(vn, "vid")
    sizes = o.groupBy("cluster").agg(F.count(F.lit(1)).alias("csz"))  # ≤ k rows
    o = o.join(F.broadcast(sizes), "cluster")
    # arrivals routed to clusters with no old members simply match
    # nothing — both downstream joins are inner on cluster

    sim = F.round(
        dot(F.col("vec"), F.col("nvec")) / (F.col("norm") * F.col("nnorm")), 4
    )
    nrows = n_.select(
        "cluster",
        F.col("vid").alias("new_id"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nnorm"),
    )
    small = (
        o.filter(F.col("csz") <= max_cluster)
        .join(F.broadcast(nrows), "cluster")
        .select(F.col("new_id"), F.col("vid").alias("old_id"), sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    ctr = (
        o.filter(F.col("csz") > max_cluster)
        .groupBy("cluster")
        .agg(F.min("vid").alias("cvid"))
        .join(
            vo.select(
                F.col("vid").alias("cvid"),
                F.col("vec").alias("vec"),
                F.col("norm").alias("norm"),
            ),
            "cvid",
        )
    )  # ≤ k rows
    big = (
        nrows.join(F.broadcast(ctr), "cluster")
        .select(F.col("new_id"), F.col("cvid").alias("old_id"), sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return small.unionByName(big)
