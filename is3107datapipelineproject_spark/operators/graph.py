"""Iterative graph analytics on co-occurrence edges.

The reference's collaboration workload (main_dag.py:275-283) stops at
pair COUNTS; a training-data pipeline also wants node IMPORTANCE over
the induced graph (e.g. weighting sources/authors by centrality when
assembling a mixture). ``pagerank`` is the canonical join-based
iterative workload: each iteration is one equi-join of the rank vector
with the edge list (both hash-partitioned on the source key) plus one
aggregate by destination — the exact shape Pregel/GraphX lower to, kept
here in plain DataFrame ops so Catalyst/AQE manage the physical plan.

Determinism contract: ranks are BIGINT fixed-point (scaled by
``SCALE``), every division is integer ``div``, and every sum is an
integer sum — commutative and exact, so the result is bit-identical
regardless of partitioning or aggregation order, and a SQL engine
running the unrolled iterations agrees hash-for-hash. (A float
implementation would diverge across engines in the last ulp and is not
oracle-checkable.)

Scale notes (100 TB): edges are shuffled on ``src`` once into
``edge_norm`` (out-weight pre-joined, so the loop body never touches the
degree table again). In :func:`pagerank` that subtree stays lazy —
Catalyst's ReuseExchange executes it once and every iteration re-reads
the shuffle files (an eager checkpoint measured 2.8× SLOWER at ×100,
see SCALING.md round-5 A/B). :func:`personalized_pagerank`,
:func:`label_propagation` and :func:`kcore` spill-checkpoint their edge
frames (:func:`checkpoint_edges`) where that shape measured fine. Each
iteration re-shuffles only the O(|V|) rank vector, never the O(|E|)
edge list; for deep iteration counts checkpoint the RANK vector every
~10 rounds.
"""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # fixed-point: rank 1.0 == 10^9


def checkpoint_edges(df: DataFrame, eager: bool = False) -> DataFrame:
    """localCheckpoint of an O(|E|) edge frame at the serialized
    ``MEMORY_AND_DISK`` level, the graph exception to the default level
    in session.py's materialization contract. At x100 the default
    deserialized blocks ran a 16g and a 48g driver out of memory
    (SCALING.md round 5); serialized, the same sweep ran in bounded
    memory. The price is a decode per read: at sf0.1 the k-core queries
    run about 1.5x slower than at the default level."""
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)


def undirected_to_directed(pairs: DataFrame, m1: str, m2: str, w: str) -> DataFrame:
    """Expand unordered weighted pairs (m1 < m2) into both directed arcs."""
    fwd = pairs.select(F.col(m1).alias("src"), F.col(m2).alias("dst"), F.col(w).alias("w"))
    rev = pairs.select(F.col(m2).alias("src"), F.col(m1).alias("dst"), F.col(w).alias("w"))
    return fwd.unionByName(rev)


def pagerank(edges: DataFrame, iterations: int = 3, damping_pct: int = 85) -> DataFrame:
    """Weighted PageRank over directed ``(src, dst, w)`` edges.

    Every node present as a source participates; with symmetric input
    (see :func:`undirected_to_directed`) there are no dangling nodes, so
    no mass-leak correction term is needed. Returns ``(node, pr)`` with
    ``pr`` in SCALE fixed-point.

    pr'(v) = (1-d)·SCALE + d · Σ_{(u,v,w)} (pr(u)·w) div out_w(u),
    all in BIGINT arithmetic (see module docstring).
    """
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    # edge_norm stays LAZY, deliberately: the identical pair-gen +
    # normalizer subtree appears in every iteration's lineage, and
    # Catalyst's ReuseExchange collapses those into ONE physical
    # execution (asserted in tests). An eager checkpoint was tried and
    # MEASURED at x100 star scale (SCALING.md round-5 A/B): re-reading
    # 100M materialized arcs from serialized spill blocks each
    # iteration cost 651 s vs 233 s for the exchange-reuse plan — the
    # block-manager round trip loses to columnar shuffle files. Deep
    # iteration counts (~10+) should still checkpoint the RANK vector
    # to bound plan depth; the edge side never needs it.
    edge_norm = edges.join(outw, "src").select("src", "dst", "w", "ow")
    return pagerank_prenorm(edge_norm, iterations=iterations, damping_pct=damping_pct)


def pagerank_prenorm(
    edge_norm: DataFrame, iterations: int = 3, damping_pct: int = 85
) -> DataFrame:
    """PageRank over PRE-NORMALIZED edges ``(src, dst, w, ow)`` — the
    build-once/query-many entry point: when the edge table is
    materialized with out-weights baked in (plans/indexes.py), every
    query pays only the per-iteration rank⋈edge join, never the
    pair-generation or degree-normalization subtrees. Same BIGINT
    fixed-point contract as :func:`pagerank` (which delegates here).

    The rank side carries a SHUFFLE_HASH hint: the build side must be
    the O(|V|) rank vector, never the O(|E|) edges. Without it, a
    MATERIALIZED edge table small enough on disk (parquet-compressed)
    flips Catalyst to BroadcastHashJoin with the EDGES as build side —
    re-broadcasting the whole edge set every iteration, which inverts
    the scale contract and OOM'd a default-heap driver at sf0.1
    (found by the round-6 fresh-session probe). The hint also rules
    out a per-iteration edge-side sort (SMJ); with a bucketed edge
    scan the edge side then never exchanges OR sorts."""
    pr = (
        edge_norm.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(SCALE).cast("long").alias("pr"))
    )
    base = (100 - damping_pct) * SCALE // 100
    for _ in range(iterations):
        pr = (
            edge_norm.join(pr.hint("shuffle_hash"), edge_norm["src"] == pr["node"])
            .groupBy("dst")
            .agg(F.expr("sum((pr * w) div ow)").cast("long").alias("_s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(base).cast("long") + F.expr(f"({damping_pct} * _s) div 100")).alias("pr"),
            )
        )
    return pr


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns only to the SEED
    nodes (graph-anchored retrieval — "parts related to this part",
    "authors near this author" — the recommendation shape plain
    PageRank's uniform teleport cannot express).

    ``seeds`` is a 1-column ``node`` frame, expected tiny (a query's
    anchor set): it is BROADCAST into the per-iteration base term; each
    iteration stays one rank⋈edge join + one aggregate. Same BIGINT
    fixed-point determinism contract as :func:`pagerank` — the teleport
    base splits SCALE·|V| evenly across seeds in integer arithmetic, so
    the unrolled-CTE oracle agrees hash-for-hash.

    Non-seed nodes with no inbound mass after an iteration simply drop
    from the rank vector (rank would be 0); they re-enter if mass later
    reaches them — the sparse representation is the point at scale:
    after i iterations the vector covers only the i-hop neighborhood of
    the seeds, not the whole graph.
    """
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    edge_norm = (
        checkpoint_edges(edges.join(outw, "src").select("src", "dst", "w", "ow"))
    )
    # outw is already one row per node — reuse its count instead of a
    # second distinct pass over the checkpointed edges.
    return personalized_pagerank_prenorm(
        edge_norm, seeds, iterations, damping_pct, n_nodes=outw.count()
    )


def personalized_pagerank_prenorm(
    edge_norm: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    n_nodes: int | None = None,
) -> DataFrame:
    """:func:`personalized_pagerank` over PRE-NORMALIZED ``(src, dst,
    w, ow)`` edges — the build-once/query-many entry point (the
    materialized bucketed edge table of plans/indexes.py has the
    out-weights baked in, so a query pays only the iterations and the
    two O(|V|) count aggregates). Same BIGINT fixed-point contract;
    :func:`personalized_pagerank` delegates here after normalizing.

    The rank side carries the same SHUFFLE_HASH hint as
    :func:`pagerank_prenorm`, and for the same round-6-measured reason:
    a parquet-compressed materialized edge table is small enough on
    disk that Catalyst would otherwise BROADCAST the edges — the
    O(|E|) side — every iteration. ``n_nodes`` (|distinct src|) may be
    passed when the caller already knows it (the normalizing wrapper
    reuses its out-weight count; a production index would store it
    with the table stats)."""
    if n_nodes is None:
        n_nodes = edge_norm.select("src").distinct().count()
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs at least one seed node")
    # Teleport splits (1-d)·SCALE·|V| across the seeds, integer-exactly.
    base_each = (100 - damping_pct) * SCALE * n_nodes // (100 * n_seeds)
    base = seeds.select(F.col("node"), F.lit(base_each).cast("long").alias("pr"))

    pr = seeds.select("node", F.lit(SCALE).cast("long").alias("pr"))
    for _ in range(iterations):
        flowed = (
            edge_norm.join(pr.hint("shuffle_hash"), edge_norm["src"] == pr["node"])
            .groupBy("dst")
            .agg(F.expr("sum((pr * w) div ow)").cast("long").alias("_s"))
            .select(
                F.col("dst").alias("node"),
                F.expr(f"({damping_pct} * _s) div 100").cast("long").alias("pr"),
            )
        )
        # Teleport merge as union + re-sum (a full-outer join can't
        # broadcast its build side; this is one cheap aggregate over
        # |frontier| + |seeds| rows and the integer sum is identical).
        pr = (
            flowed.unionByName(base)
            .groupBy("node")
            .agg(F.sum("pr").cast("long").alias("pr"))
            .filter(F.col("pr") > 0)
        )
    return pr


def label_propagation(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007)
    over directed symmetric ``(src, dst, w)`` edges: every node starts
    as its own label; each round a node adopts the label with the
    highest incident weight sum, ties to the SMALLEST label — the
    community-detection primitive for product/near-dup grouping where
    connected components (hash-min closure) are too coarse.

    Determinism: weights are integers, so the per-(node, label) vote is
    exact, and the argmax is a single ``max(struct(wsum, -label))`` —
    bit-stable under any partitioning, replayable in SQL as a
    ``row_number() OVER (ORDER BY wsum DESC, label ASC)`` pick. The
    synchronous (Jacobi) update is part of the contract: asynchronous
    LPA is partition-order-dependent and could never be oracle-checked.

    Scale: edges are checkpointed once (the upstream pair
    generation never rides in iteration lineage — same discipline as
    :func:`pagerank`); each round is one |E|-row join + two aggregates
    shuffling on node keys, and the label vector stays O(|V|).
    """
    edges = checkpoint_edges(edges)
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    for _ in range(iterations):
        votes = (
            edges.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("node"), F.col("label"))
            .agg(F.sum("w").cast("long").alias("wsum"))
        )
        labels = (
            votes.groupBy("node")
            .agg(F.max(F.struct(F.col("wsum").alias("wsum"), (-F.col("label")).alias("neg"))).alias("m"))
            .select("node", (-F.col("m.neg")).alias("label"))
        )
    return labels


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 3) -> DataFrame:
    """Minimum-hop distance from a seed set over directed ``(src, dst,
    w)`` edges: returns ``(node, hop)`` for every node reachable in at
    most ``max_hops`` hops (seeds at hop 0). The canonical frontier
    expansion — each round is ONE equi-join of the current frontier
    (O(|frontier|)) with the edge list on ``src`` plus one left-anti
    probe against the visited set.

    Determinism: min-hop distance is partition-order-free by
    construction (a node joins the visited set at the first round it is
    reachable, and rounds are synchronous barriers), so any engine
    running level-synchronous BFS agrees exactly.

    Scale (100 TB): the whole traversal stays LAZY — one
    Catalyst plan in which the IDENTICAL edge subtree recurs every
    round and ReuseExchange executes it once (the pagerank shape; the
    measured A/B at sf0.1 has lazy at 6.1 s vs 7.8 s for per-round
    eager checkpoints, and at ×100 at 114 s vs 269 s — see SCALING.md).
    Frontier *i*'s subtree nests inside frontier *i+1* and visited, so
    plan DEPTH grows linearly with hops, which the small ``max_hops``
    of a seeded sweep keeps shallow. Visited stays O(reached nodes).

    Both per-round joins pin SHUFFLE_HASH on the vertex-sized side
    (frontier / visited): those frames are O(|V|) once the sweep
    saturates — on a connected graph the hop-1 frontier is already
    most of the vertex set — so Catalyst's size estimate (tiny at
    round 0, or tiny-on-disk for a materialized edge table) must not
    lure it into BroadcastHashJoin; a broadcast frontier is the same
    inverted contract the pagerank_prenorm pin exists for. With a
    bucketed edge scan the edge side then never exchanges or sorts.
    """
    edges = edges.select("src", "dst")
    visited = seeds.select("node", F.lit(0).alias("hop"))
    frontier = seeds.select("node")
    for i in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node").hint("shuffle_hash"), "node", "left_anti")
        )
        visited = visited.unionByName(nxt.select("node", F.lit(i).alias("hop")))
        frontier = nxt
    return visited


def kcore(edges: DataFrame, k: int, rounds: int = 3) -> DataFrame:
    """Fixed-round k-core peeling over directed ``(src, dst)`` edges
    (undirected graphs arrive pre-expanded, so out-degree == degree):
    each round drops every node whose CURRENT induced degree is below
    ``k``, then restricts the edge set to surviving endpoints. Returns
    ``(node, degree)`` for nodes still alive after ``rounds`` synchronous
    peels — the density-cohesion filter (community cores, spam-farm
    detection, curriculum "well-connected concept" selection).

    A convergence loop would need a driver-side count per round (and an
    engine-dependent round count); the FIXED round count keeps the
    result a pure function of the input that an unrolled-CTE oracle
    replays exactly — same contract as :func:`pagerank`. Callers
    needing the true k-core raise ``rounds`` until a probe shows no
    change (each extra round is one more join+agg stage).

    Scale: each round is two semi-joins (edge set restricted by the
    alive set, both hash-partitioned on node keys) + one count
    aggregate; the edge frame is spill-checkpointed per round so round
    r's lineage does not re-derive rounds 0..r-1. Alive sets are O(|V|)
    and shrink monotonically."""
    edges = checkpoint_edges(edges.select("src", "dst"))
    for _ in range(rounds):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        alive = deg.filter(F.col("c") >= k).select("src")
        edges = (
            edges.join(alive, "src", "left_semi")
            .join(alive.withColumnRenamed("src", "dst"), "dst", "left_semi")
        )
        edges = checkpoint_edges(edges)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.filter(F.col("degree") >= k).select(F.col("src").alias("node"), "degree")
