"""Graph / entity-resolution analytics over the star schema.

Two operator classes the rest of the registry lacks:

- ``copurchase_pagerank``: an ITERATIVE join-based graph algorithm
  (fixed-point BIGINT PageRank over the part co-purchase graph) — the
  workload shape GraphX/Pregel lower to, expressed as plain DataFrame
  joins so it is oracle-checkable (the SQL twin unrolls the iterations
  as chained CTEs).
- ``fuzzy_name_match``: a blocked approximate string join
  (canonicalize → block → length gate → Levenshtein), the
  entity-resolution primitive the reference's exact-string keying
  (main_dag.py:151-188) cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.operators import graph as G
from is3107datapipelineproject_spark.operators.fuzzy import blocked_fuzzy_pairs
from is3107datapipelineproject_spark.operators.pair_counts import pair_counts
from is3107datapipelineproject_spark.sources.tables import load_table
from is3107datapipelineproject_spark.workload.registry import register

_PAGERANK_ITER_SQL = """
it{n} AS (
  SELECT e.dst AS node,
         CAST(150000000 + (85 * CAST(sum((p.pr * e.w) // o.ow) AS BIGINT)) // 100 AS BIGINT) AS pr
  FROM edges e JOIN it{prev} p ON p.node = e.src JOIN outw o ON o.src = e.src
  GROUP BY 1
)"""

_PAGERANK_ORACLE = (
    """
WITH bridge AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem),
pairs AS (
  SELECT a.m AS m1, b.m AS m2, CAST(count(*) AS BIGINT) AS w
  FROM bridge a JOIN bridge b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2
),
edges AS (SELECT m1 AS src, m2 AS dst, w FROM pairs
          UNION ALL SELECT m2, m1, w FROM pairs),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
it0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM outw),"""
    + ",".join(_PAGERANK_ITER_SQL.format(n=i, prev=i - 1) for i in range(1, 4))
    + """
SELECT node AS part_key, pr AS pr_scaled FROM it3
"""
)


@register("copurchase_pagerank", oracle=_PAGERANK_ORACLE, tags=("graph", "iterative"))
def q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part importance in the co-purchase graph: parts appearing in the
    same order are linked (weight = #orders), and 3 fixed-point PageRank
    iterations rank them. Pair generation reuses the 2-shuffle
    combination plan (operators/pair_counts.py — never a self-join at
    pair cardinality); each iteration is one rank⋈edge join + one
    aggregate, all-BIGINT so Spark and the unrolled-CTE oracle agree
    bit-for-bit (operators/graph.py determinism contract)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = pair_counts(li, "l_orderkey", "l_partkey")
    edges = G.undirected_to_directed(pairs, "member1", "member2", "cnt")
    pr = G.pagerank(edges, iterations=3)
    return pr.select(F.col("node").alias("part_key"), F.col("pr").alias("pr_scaled"))


_PPR_ITER_SQL = """
it{n} AS (
  SELECT node, pr FROM (
    SELECT COALESCE(f.node, b.node) AS node,
           CAST(COALESCE(f.flow, 0) + COALESCE(b.base, 0) AS BIGINT) AS pr
    FROM (
      SELECT e.dst AS node,
             CAST((85 * CAST(sum((p.pr * e.w) // o.ow) AS BIGINT)) // 100 AS BIGINT) AS flow
      FROM edges e JOIN it{prev} p ON p.node = e.src JOIN outw o ON o.src = e.src
      GROUP BY 1
    ) f FULL OUTER JOIN basev b ON f.node = b.node
  ) WHERE pr > 0
)"""

_PPR_ORACLE = (
    """
WITH bridge AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem),
pairs AS (
  SELECT a.m AS m1, b.m AS m2, CAST(count(*) AS BIGINT) AS w
  FROM bridge a JOIN bridge b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2
),
edges AS (SELECT m1 AS src, m2 AS dst, w FROM pairs
          UNION ALL SELECT m2, m1, w FROM pairs),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
seeds AS (SELECT src AS node FROM outw ORDER BY src LIMIT 2),
basev AS (
  SELECT node,
         CAST((CAST(15 AS BIGINT) * 1000000000 * (SELECT count(*) FROM outw))
              // (100 * (SELECT count(*) FROM seeds)) AS BIGINT) AS base
  FROM seeds
),
it0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM seeds),"""
    + ",".join(_PPR_ITER_SQL.format(n=i, prev=i - 1) for i in range(1, 4))
    + """
SELECT node AS part_key, pr AS ppr_scaled FROM it3
"""
)


@register("related_parts_ppr", oracle=_PPR_ORACLE, tags=("graph", "iterative"))
def q_related_parts_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a 2-part anchor set over the
    co-purchase graph (operators/graph.py::personalized_pagerank) — the
    graph-retrieval shape: teleport returns only to the anchors, so
    after 3 iterations the rank vector covers exactly the anchors'
    3-hop neighborhood (sparse by construction at any graph size).
    Fixed-point BIGINT arithmetic; the oracle unrolls the iterations
    with the same full-outer teleport merge."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = pair_counts(li, "l_orderkey", "l_partkey")
    edges = G.checkpoint_edges(G.undirected_to_directed(pairs, "member1", "member2", "cnt"))
    seeds = (
        edges.groupBy("src").agg(F.sum("w").alias("_"))
        .orderBy("src")
        .limit(2)
        .select(F.col("src").alias("node"))
    )
    pr = G.personalized_pagerank(edges, seeds, iterations=3)
    return pr.select(F.col("node").alias("part_key"), F.col("pr").alias("ppr_scaled"))


_FUZZY_ORACLE = """
WITH ent AS (
  SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS canon_key,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1
),
blk AS (
  SELECT e.*, split_part(p_name, ' ', 1) AS b FROM ent e
),
ok AS (SELECT b FROM blk GROUP BY 1 HAVING count(*) <= 10000)
SELECT a.p_name AS p_name_a, a.canon_key AS canon_key_a, a.n_parts AS n_parts_a,
       b2.p_name AS p_name_b, b2.canon_key AS canon_key_b, b2.n_parts AS n_parts_b,
       CAST(levenshtein(a.p_name, b2.p_name) AS INTEGER) AS dist
FROM blk a
JOIN blk b2 ON a.b = b2.b AND a.p_name < b2.p_name
           AND abs(length(a.p_name) - length(b2.p_name)) <= 4
           AND levenshtein(a.p_name, b2.p_name) <= 4
WHERE a.b IN (SELECT b FROM ok)
"""


@register("fuzzy_name_match", oracle=_FUZZY_ORACLE, tags=("fuzzy", "entity-resolution"))
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical part names via blocked Levenshtein join: the part
    fact collapses to distinct name entities FIRST (hash aggregate), the
    quadratic comparison happens only inside first-token blocks (capped
    at 10k — the hot-band guard), and a length pre-gate short-circuits
    the O(len²) DP (operators/fuzzy.py)."""
    part = load_table(spark, sf_dir, "part")
    ents = part.groupBy("p_name").agg(
        F.min("p_partkey").cast("long").alias("canon_key"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    pairs = blocked_fuzzy_pairs(
        ents,
        "p_name",
        block_expr=F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)),
        max_dist=4,
        max_block=10_000,
    )
    return pairs.select(
        "p_name_a", "canon_key_a", "n_parts_a", "p_name_b", "canon_key_b", "n_parts_b", "dist"
    )


_ER_ORACLE = """
WITH ent AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts FROM part GROUP BY 1),
blk AS (SELECT p_name, split_part(p_name, ' ', 1) AS b FROM ent),
ok AS (SELECT b FROM blk GROUP BY 1 HAVING count(*) <= 10000),
p AS (
  SELECT a.p_name AS n1, b2.p_name AS n2
  FROM blk a
  JOIN blk b2 ON a.b = b2.b AND a.p_name < b2.p_name
             AND abs(length(a.p_name) - length(b2.p_name)) <= 4
             AND levenshtein(a.p_name, b2.p_name) <= 4
  WHERE a.b IN (SELECT b FROM ok)
),
edges AS (SELECT n1 AS src, n2 AS dst FROM p UNION SELECT n2, n1 FROM p),
reach AS (
  WITH RECURSIVE r(id, seen) AS (
    SELECT p_name, p_name FROM ent
    UNION
    SELECT e.dst, r.seen FROM edges e JOIN r ON r.id = e.src
  )
  SELECT * FROM r
),
clusters AS (SELECT id AS p_name, min(seen) AS entity_name FROM reach GROUP BY 1)
SELECT c.p_name, c.entity_name, e.n_parts
FROM clusters c JOIN ent e USING (p_name)
"""


@register("entity_resolution", oracle=_ER_ORACLE, tags=("fuzzy", "entity-resolution", "iterative"))
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: canonicalize part names → blocked
    Levenshtein match (operators/fuzzy.py) → connected components over
    the match graph (operators/dedup.py::neardup_clusters hash-min) →
    every name labeled with its cluster's canonical (min) name. The
    quadratic never leaves a block, the closure is the same iterative
    machinery the dedup family ships, and the oracle replays it with a
    recursive CTE. Singletons (including names in dropped hot blocks)
    resolve to themselves on both engines."""
    from is3107datapipelineproject_spark.operators.dedup import neardup_clusters

    part = load_table(spark, sf_dir, "part")
    ents = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    pairs = blocked_fuzzy_pairs(
        ents.select("p_name"),
        "p_name",
        block_expr=F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)),
        max_dist=4,
        max_block=10_000,
    ).select(F.col("p_name_a").alias("doc1"), F.col("p_name_b").alias("doc2"))
    clusters = neardup_clusters(ents.select("p_name"), pairs, id_col="p_name")
    return clusters.select(
        "p_name", F.col("cluster_id").alias("entity_name")
    ).join(ents, "p_name")


# --- round 5: static graph analytics over the co-purchase graph -------------

# Shared edge set: co-purchase pairs appearing in >= 2 orders (the weight
# floor that keeps the graph sparse — one-off co-occurrences are noise for
# structure queries and the floor bounds wedge counts at scale).
_EDGE_CTES = """
bridge AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem),
pairs AS (
  SELECT a.m AS x, b.m AS y, CAST(count(*) AS BIGINT) AS w
  FROM bridge a JOIN bridge b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2
),
e AS (SELECT x, y FROM pairs WHERE w >= 2)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = pair_counts(li, "l_orderkey", "l_partkey")
    return pairs.filter(F.col("cnt") >= 2).select(
        F.col("member1").alias("x"), F.col("member2").alias("y")
    )


def _node_degrees(e: DataFrame) -> DataFrame:
    """Per-node degree of the undirected edge set ``(x, y)``."""
    return (
        e.select(F.col("x").alias("n"))
        .unionAll(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )


def _triangle_counts(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Per-node triangle participation via DEGREE-ORDERED orientation:
    every undirected edge points from its lower-(degree, id) endpoint,
    so each triangle is generated exactly once at its unique
    two-out-edge source and wedge count is bounded by Σ out-deg² with
    out-degrees O(√|E|) — the hub-safe bound id-ordered enumeration
    lacks. Returns ``(part_key, n_triangles)``; the triangle SET is
    orientation-independent, so a plain id-ordered SQL oracle agrees."""
    ed = (
        e.join(deg.select(F.col("n").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("dy")), "y")
    )
    rx = F.struct(F.col("dx").alias("d"), F.col("x").alias("i"))
    ry = F.struct(F.col("dy").alias("d"), F.col("y").alias("i"))
    x_first = rx < ry
    o = ed.select(
        F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("dst"),
        F.when(x_first, ry).otherwise(rx).alias("rdst"),
    )
    o1, o2 = o.alias("o1"), o.alias("o2")
    wedge = o1.join(o2, "src").filter(F.col("o1.rdst") < F.col("o2.rdst")).select(
        F.col("src").alias("a"), F.col("o1.dst").alias("b"), F.col("o2.dst").alias("c")
    )
    tri = wedge.join(
        o.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"], "leftsemi"
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part_key"))
        .groupBy("part_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


@register(
    "copurchase_triangles",
    oracle=f"""
WITH {_EDGE_CTES},
tri AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM e e1 JOIN e e2 ON e1.y = e2.x
            JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
),
nodes AS (SELECT unnest([a, b, c]) AS part_key FROM tri)
SELECT part_key, CAST(count(*) AS BIGINT) AS n_triangles FROM nodes GROUP BY 1
""",
    tags=("graph",),
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph — the
    local-clustering primitive (tight product bundles show up as
    triangle-dense neighborhoods). Enumeration is the degree-ordered
    orientation in ``_triangle_counts`` (hub-safe Σ out-deg² wedge
    bound); the oracle enumerates in plain id order — same triangle
    set, same per-node counts."""
    e = _copurchase_edges(spark, sf_dir)
    return _triangle_counts(e, _node_degrees(e))


@register(
    "clustering_coefficient",
    oracle=f"""
WITH {_EDGE_CTES},
tri AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM e e1 JOIN e e2 ON e1.y = e2.x
            JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
),
nodes AS (SELECT unnest([a, b, c]) AS part_key FROM tri),
tcnt AS (SELECT part_key, CAST(count(*) AS BIGINT) AS n_triangles FROM nodes GROUP BY 1),
adj AS (SELECT x AS n FROM e UNION ALL SELECT y FROM e),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY 1)
SELECT deg.n AS part_key, deg.degree,
       CAST(coalesce(tcnt.n_triangles, 0) AS BIGINT) AS n_triangles,
       round(CAST(2 * coalesce(tcnt.n_triangles, 0) AS DOUBLE)
             / (deg.degree * (deg.degree - 1)), 4) AS lcc
FROM deg LEFT JOIN tcnt ON tcnt.part_key = deg.n
WHERE deg.degree >= 2
""",
    tags=("graph",),
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: 2·triangles / (d·(d−1))
    for degree ≥ 2 — how close each part's co-purchase neighborhood is
    to a clique (the bundle-detection metric on top of raw triangle
    counts). Pure integer numerator/denominator, ONE float division
    rounded 4 dp. Plan: degree frame and the hub-safe oriented triangle
    count share the same edge set; nodes in no triangle survive via the
    left join with an exact 0."""
    e = _copurchase_edges(spark, sf_dir)
    deg = _node_degrees(e)
    tri = _triangle_counts(e, deg)
    out = (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg["n"] == tri["part_key"], "left")
        .select(
            F.col("n").alias("part_key"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        )
    )
    return out.select(
        "part_key",
        "degree",
        "n_triangles",
        F.round(
            (2 * F.col("n_triangles")).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            4,
        ).alias("lcc"),
    )


@register(
    "graph_degree_stats",
    oracle=f"""
WITH {_EDGE_CTES},
adj AS (SELECT x AS n FROM e UNION ALL SELECT y FROM e),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY 1)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
""",
    tags=("graph", "diagnostics"),
)
def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the structural
    sanity probe run before any iterative graph job (a heavy tail says
    salt/cap hubs first; see key_skew_stats for the join-side twin).
    Two hash aggregates; output is #distinct-degrees rows."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("x").alias("n"))
        .unionAll(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


@register(
    "similar_parts_jaccard",
    oracle=f"""
WITH {_EDGE_CTES},
adj AS (SELECT x AS n, y AS nb FROM e UNION ALL SELECT y AS n, x AS nb FROM e),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
ok AS (SELECT nb FROM adj GROUP BY 1 HAVING count(*) <= 200),
com AS (
  SELECT a.n AS part1, b.n AS part2, CAST(count(*) AS BIGINT) AS common
  FROM adj a JOIN adj b ON a.nb = b.nb AND a.n < b.n
  WHERE a.nb IN (SELECT nb FROM ok)
  GROUP BY 1, 2
)
SELECT part1, part2, common,
       round(CAST(common AS DOUBLE) / (d1.d + d2.d - common), 4) AS jaccard
FROM com JOIN deg d1 ON d1.n = com.part1 JOIN deg d2 ON d2.n = com.part2
WHERE common >= 2
  AND round(CAST(common AS DOUBLE) / (d1.d + d2.d - common), 4) >= 0.25
""",
    tags=("graph", "similarity"),
)
def q_similar_parts_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Customers-also-bought" 2-hop node similarity: neighbor-set
    Jaccard between parts sharing a co-purchase neighbor. Common-
    neighbor counting IS the flagship pair_counts plan (group = the
    shared neighbor, member = the part) with its max_group_size hub
    guard — a 10k-degree hub would otherwise mint 50M candidate pairs;
    the 200-cap is part of the SEMANTICS and the oracle replays it
    (same df-capped posting-list contract as containment_pairs).
    Degrees come from the UNCAPPED adjacency, so scores stay honest
    for surviving pairs; common/(d1+d2-common) is one integer-fed
    division rounded before the ≥0.25 gate."""
    e = _copurchase_edges(spark, sf_dir)
    adj = e.select(F.col("x").alias("n"), F.col("y").alias("nb")).unionAll(
        e.select(F.col("y").alias("n"), F.col("x").alias("nb"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("d"))
    com = pair_counts(adj, "nb", "n", max_group_size=200).select(
        F.col("member1").alias("part1"),
        F.col("member2").alias("part2"),
        F.col("cnt").cast("long").alias("common"),
    )
    jac = F.round(
        F.col("common").cast("double") / (F.col("d1") + F.col("d2") - F.col("common")), 4
    )
    return (
        com.join(deg.select(F.col("n").alias("part1"), F.col("d").alias("d1")), "part1")
        .join(deg.select(F.col("n").alias("part2"), F.col("d").alias("d2")), "part2")
        .filter(F.col("common") >= 2)
        .select("part1", "part2", "common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.25)
    )


_LPA_ITER_SQL = """
lp{n} AS (
  SELECT node, label FROM (
    SELECT v.node, v.label,
           row_number() OVER (PARTITION BY v.node ORDER BY v.wsum DESC, v.label ASC) AS rk
    FROM (
      SELECT e.src AS node, p.label, CAST(sum(e.w) AS BIGINT) AS wsum
      FROM ed e JOIN lp{prev} p ON p.node = e.dst
      GROUP BY 1, 2
    ) v
  ) WHERE rk = 1
)"""

_LPA_ORACLE = (
    f"""
WITH {_EDGE_CTES},
ed AS (SELECT x AS src, y AS dst, w FROM pairs WHERE w >= 2
       UNION ALL SELECT y, x, w FROM pairs WHERE w >= 2),
lp0 AS (SELECT DISTINCT src AS node, src AS label FROM ed),"""
    + ",".join(_LPA_ITER_SQL.format(n=i, prev=i - 1) for i in range(1, 3))
    + """
SELECT node AS part_key, label AS community FROM lp2
"""
)


@register("copurchase_communities", oracle=_LPA_ORACLE, tags=("graph", "iterative"))
def q_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product communities by 2 rounds of synchronous weighted label
    propagation over the weight-floored co-purchase graph
    (operators/graph.py::label_propagation) — the grouping between
    connected components (too coarse: one giant blob) and k-means on
    embeddings (needs vectors). Integer vote sums + max(struct) argmax
    make every round bit-deterministic; the oracle unrolls both rounds
    with a row_number pick."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = pair_counts(li, "l_orderkey", "l_partkey").filter(F.col("cnt") >= 2)
    edges = G.undirected_to_directed(pairs, "member1", "member2", "cnt")
    lp = G.label_propagation(edges, iterations=2)
    return lp.select(F.col("node").alias("part_key"), F.col("label").alias("community"))


_BFS_ORACLE = """
WITH bridge AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem),
pairs AS (
  SELECT a.m AS m1, b.m AS m2
  FROM bridge a JOIN bridge b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2
),
edges AS (SELECT m1 AS src, m2 AS dst FROM pairs
          UNION ALL SELECT m2, m1 FROM pairs),
seed AS (SELECT min(src) AS node FROM edges),
d0 AS (SELECT node, 0 AS hop FROM seed),
f1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d0 ON d0.node = e.src),
d1 AS (SELECT node, 1 AS hop FROM f1 WHERE node NOT IN (SELECT node FROM d0)),
f2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d1 ON d1.node = e.src),
d2 AS (SELECT node, 2 AS hop FROM f2
       WHERE node NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1)),
f3 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d2 ON d2.node = e.src),
d3 AS (SELECT node, 3 AS hop FROM f3
       WHERE node NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1
                          UNION ALL SELECT node FROM d2))
SELECT node AS part_key, CAST(hop AS INT) AS hop
FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1
      UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
"""


@register("copurchase_bfs_hops", oracle=_BFS_ORACLE, tags=("graph", "iterative"))
def q_copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-hop distance from the lowest-keyed part over the
    co-purchase graph (operators/graph.py::bfs_hops) — the
    level-synchronous BFS every graph engine lowers traversal queries
    to, kept in plain DataFrame ops: per round one frontier⋈edges
    equi-join + one anti-join against visited, frontier checkpointed so
    lineage stays flat. Completes the iterative-graph family
    (pagerank = fixed-point value iteration, PPR = sparse seeded
    variant, LPA = argmax vote, BFS = reachability/shortest-hop). The
    oracle unrolls the three frontier expansions with NOT-IN visited
    guards."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = pair_counts(li, "l_orderkey", "l_partkey")
    edges = G.undirected_to_directed(pairs, "member1", "member2", "cnt")
    seeds = edges.agg(F.min("src").alias("node"))
    out = G.bfs_hops(edges, seeds, max_hops=3)
    return out.select(F.col("node").alias("part_key"), F.col("hop"))


_KCORE_K = 90

_KCORE_ORACLE = f"""
WITH bridge AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem),
pairs AS (
  SELECT a.m AS m1, b.m AS m2
  FROM bridge a JOIN bridge b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2
),
e0 AS (SELECT m1 AS src, m2 AS dst FROM pairs UNION ALL SELECT m2, m1 FROM pairs),
d0 AS (SELECT src, count(*) AS c FROM e0 GROUP BY 1),
a0 AS (SELECT src FROM d0 WHERE c >= {_KCORE_K}),
e1 AS (SELECT e.src, e.dst FROM e0 e JOIN a0 x ON e.src = x.src JOIN a0 y ON e.dst = y.src),
d1 AS (SELECT src, count(*) AS c FROM e1 GROUP BY 1),
a1 AS (SELECT src FROM d1 WHERE c >= {_KCORE_K}),
e2 AS (SELECT e.src, e.dst FROM e1 e JOIN a1 x ON e.src = x.src JOIN a1 y ON e.dst = y.src),
d2 AS (SELECT src, count(*) AS c FROM e2 GROUP BY 1),
a2 AS (SELECT src FROM d2 WHERE c >= {_KCORE_K}),
e3 AS (SELECT e.src, e.dst FROM e2 e JOIN a2 x ON e.src = x.src JOIN a2 y ON e.dst = y.src),
d3 AS (SELECT src, count(*) AS c FROM e3 GROUP BY 1)
SELECT src AS part_key, CAST(c AS BIGINT) AS degree FROM d3 WHERE c >= {_KCORE_K}
"""


@register("copurchase_kcore", oracle=_KCORE_ORACLE, tags=("graph", "iterative"))
def q_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense core of the co-purchase graph (operators/graph.py::kcore):
    parts still holding >= 90 induced co-purchase neighbors after three
    synchronous peel rounds — the cohesion filter behind community-core
    extraction and "well-connected item" curricula. Each round is two
    semi-joins + one degree aggregate on node-key partitioning; the
    fixed round count (not convergence) keeps the result a pure
    function of the input so the unrolled-CTE oracle replays it
    exactly. At sf0.01 the peel is genuinely progressive
    (1745 -> 1534 -> 1221 -> 527 survivors)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = pair_counts(li, "l_orderkey", "l_partkey")
    edges = G.undirected_to_directed(pairs, "member1", "member2", "cnt")
    out = G.kcore(edges, k=_KCORE_K, rounds=3)
    return out.select(F.col("node").alias("part_key"), "degree")


_RULES_MIN_SUP = 3

_RULES_ORACLE = f"""
WITH bridge AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem),
n AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_orders FROM bridge),
supp AS (SELECT m, CAST(count(*) AS BIGINT) AS s FROM bridge GROUP BY 1),
pairs AS (
  SELECT a.m AS m1, b.m AS m2, CAST(count(*) AS BIGINT) AS cnt
  FROM bridge a JOIN bridge b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2
  HAVING count(*) >= {_RULES_MIN_SUP}
)
SELECT p.m1 AS antecedent, p.m2 AS consequent, p.cnt AS pair_support,
       round(CAST(p.cnt AS DOUBLE) / s1.s, 4) AS confidence,
       round(CAST(p.cnt AS DOUBLE) * n.n_orders / (s1.s * s2.s), 4) AS lift
FROM pairs p JOIN supp s1 ON s1.m = p.m1 JOIN supp s2 ON s2.m = p.m2, n
ORDER BY lift DESC, antecedent, consequent LIMIT 50
"""


@register("association_rules", oracle=_RULES_ORACLE, tags=("graph", "agg"))
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchase pairs: support
    from the 2-shuffle pair_counts plan (never a self-join at pair
    cardinality), per-item supports joined back at PAIR-table
    cardinality (item supports are item-count-sized — broadcast), and
    the 1-row order total rides a broadcast. confidence = pair/s1 and
    lift = pair*N/(s1*s2) are single IEEE divisions of exact integers
    (correctly rounded, engine-independent) rounded to 4 dp BEFORE the
    lift ranking, so the top-50 cut is oracle-stable. min-support 3
    prunes the rule space before any division. Top-50 via
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bridge = li.distinct()
    n = bridge.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    supp = bridge.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("s"))
    pairs = pair_counts(li, "l_orderkey", "l_partkey").filter(
        F.col("cnt") >= _RULES_MIN_SUP
    )
    s1 = supp.select(F.col("l_partkey").alias("member1"), F.col("s").alias("s1"))
    s2 = supp.select(F.col("l_partkey").alias("member2"), F.col("s").alias("s2"))
    return (
        pairs.join(F.broadcast(s1), "member1")
        .join(F.broadcast(s2), "member2")
        .join(F.broadcast(n))
        .select(
            F.col("member1").alias("antecedent"),
            F.col("member2").alias("consequent"),
            F.col("cnt").alias("pair_support"),
            F.round(F.col("cnt").cast("double") / F.col("s1"), 4).alias("confidence"),
            F.round(
                F.col("cnt").cast("double") * F.col("n_orders") / (F.col("s1") * F.col("s2")), 4
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(50)
    )


# --- materialized edge-table surface (plans/indexes.py) ----------------------
#
# Round-5 bench audit: every graph query above rebuilds the co-purchase
# edges from lineitem, and that pair-gen subtree dominates their cost.
# These three queries are the build-once/query-many contract a real
# graph workload uses: one bucketed edge-table build, then queries that
# pay only the iteration cost. Contents are a pure function of
# lineitem, so the oracles are the SAME unrolled chains as the
# rebuild-every-time siblings.

_EDGE_SUMMARY_ORACLE = """
WITH bridge AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem),
pairs AS (
  SELECT a.m AS m1, b.m AS m2, CAST(count(*) AS BIGINT) AS w
  FROM bridge a JOIN bridge b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2
),
edges AS (SELECT m1 AS src, m2 AS dst, w FROM pairs
          UNION ALL SELECT m2, m1, w FROM pairs)
SELECT CAST(count(*) AS BIGINT) AS n_arcs,
       CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
       CAST(sum(w) AS BIGINT) AS total_weight
FROM edges
"""


@register("edge_table_build", oracle=_EDGE_SUMMARY_ORACLE, tags=("graph", "materialize"))
def q_edge_table_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the bucketed co-purchase edge table
    (plans/indexes.py::copurchase_edge_table — pre-normalized arcs
    (src, dst, w, ow) bucketed by src) and return its summary row. The
    build is idempotent per corpus; every subsequent *_from_edges query
    reads the table instead of re-running the pair-gen double shuffle.
    The summary scans ONLY the materialized table (count + distinct +
    sum, partial-aggregatable); the oracle recomputes it from lineitem,
    which is precisely the build-correctness check."""
    from is3107datapipelineproject_spark.plans.indexes import copurchase_edge_table

    e = copurchase_edge_table(spark, sf_dir)
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("n_arcs"),
        F.countDistinct("src").cast("long").alias("n_nodes"),
        F.sum("w").cast("long").alias("total_weight"),
    )


@register(
    "edge_table_retract",
    oracle="""
WITH bridge AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem
                WHERE l_orderkey % 13 <> 2),
pairs AS (
  SELECT a.m AS m1, b.m AS m2, CAST(count(*) AS BIGINT) AS w
  FROM bridge a JOIN bridge b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2
),
edges AS (SELECT m1 AS src, m2 AS dst, w FROM pairs
          UNION ALL SELECT m2, m1, w FROM pairs)
SELECT CAST(count(*) AS BIGINT) AS n_arcs,
       CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
       CAST(sum(w) AS BIGINT) AS total_weight
FROM edges
""",
    tags=("graph", "materialize", "incremental"),
)
def q_edge_table_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order deletion folded into the maintained co-purchase graph
    (plans/indexes.py::edge_table_retract): build the bucketed arc
    table from the full lineitem, then RETRACT the ``l_orderkey %% 13
    == 2`` orders by appending their arcs with NEGATED weights — arc
    additivity makes deletion the same O(batch) pair-gen as ingest,
    and the merge-on-read view's strictly-positive filter makes fully
    retracted pairs VANISH (weight-0 edges would poison BFS/k-core
    connectivity). Returns the summary of the merged view; the oracle
    recomputes it from the SURVIVING lineitem — retract ==
    never-ingested. Bit-identity per (src,dst,w,ow) row, compaction
    reclamation, and the emptied-pb partition drop are
    pytest-asserted (tests/test_indexes.py)."""
    from is3107datapipelineproject_spark.plans.indexes import (
        _tag,
        _write_pb_bucketed,
        build_once,
        copurchase_edge_arcs,
        edge_table_retract,
        merged_edge_norm,
    )

    table = f"retractq_arcs_{_tag(sf_dir)}"

    # the first run certifies the build+retract cycle, later runs read
    # the retracted state (whose summary the oracle still re-checks
    # against surviving lineitem)
    def build() -> None:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        _write_pb_bucketed(copurchase_edge_arcs(li), table, 16)
        edge_table_retract(
            spark,
            table,
            li.filter(F.col("l_orderkey") % 13 == 2),
            compact_max_files=None,
            compact_delta_frac=None,
        )

    build_once(spark, f"{table}_ready", [table, f"{table}_touched"], build)
    e = merged_edge_norm(spark, table)
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("n_arcs"),
        F.countDistinct("src").cast("long").alias("n_nodes"),
        F.sum("w").cast("long").alias("total_weight"),
    )


@register("pagerank_from_edges", oracle=_PAGERANK_ORACLE, tags=("graph", "iterative", "materialize"))
def q_pagerank_from_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """copurchase_pagerank's amortized twin: identical result (same
    oracle), but the edges come from the materialized bucketed table —
    the query pays ONLY the 3 rank⋈edge iterations. The bucketed scan
    reports HashPartitioning(src), so each iteration shuffles just the
    O(|V|) rank vector; the O(|E|) edge side never exchanges. This is
    the per-query cost profile a 100 TB graph deployment actually
    runs."""
    from is3107datapipelineproject_spark.plans.indexes import copurchase_edge_table

    e = copurchase_edge_table(spark, sf_dir)
    pr = G.pagerank_prenorm(e.select("src", "dst", "w", "ow"))
    return pr.select(F.col("node").alias("part_key"), F.col("pr").alias("pr_scaled"))


@register("kcore_from_edges", oracle=_KCORE_ORACLE, tags=("graph", "iterative", "materialize"))
def q_kcore_from_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """copurchase_kcore's amortized twin over the materialized edge
    table (same oracle, same _KCORE_K/3-round peel): per-round induced
    degrees + two semi-joins start from the bucketed (src-partitioned)
    scan, so the first-round degree aggregate is exchange-free and the
    pair-gen subtree is gone entirely."""
    from is3107datapipelineproject_spark.plans.indexes import copurchase_edge_table

    e = copurchase_edge_table(spark, sf_dir)
    out = G.kcore(e.select("src", "dst"), k=_KCORE_K, rounds=3)
    return out.select(F.col("node").alias("part_key"), "degree")


@register("bfs_from_edges", oracle=_BFS_ORACLE, tags=("graph", "iterative", "materialize"))
def q_bfs_from_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """copurchase_bfs_hops' amortized twin over the materialized
    bucketed edge table (same oracle, same 3-hop frontier expansion):
    the pair-gen double shuffle — the dominant cost of the rebuild
    variant, #2 in the round-6 bench — is gone; each round is one
    frontier⋈edges equi-join reading the src-partitioned scan plus the
    left-anti visited probe. Seeds come from the table's own min(src)
    (identical to the rebuild variant's seed by construction)."""
    from is3107datapipelineproject_spark.plans.indexes import copurchase_edge_table

    e = copurchase_edge_table(spark, sf_dir)
    seeds = e.agg(F.min("src").alias("node"))
    out = G.bfs_hops(e.select("src", "dst"), seeds, max_hops=3)
    return out.select(F.col("node").alias("part_key"), F.col("hop"))


@register("ppr_from_edges", oracle=_PPR_ORACLE, tags=("graph", "iterative", "materialize"))
def q_ppr_from_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """related_parts_ppr's amortized twin: identical result (same
    oracle), but the pre-normalized (src, dst, w, ow) arcs come from
    the materialized bucketed table
    (operators/graph.py::personalized_pagerank_prenorm), so the query
    pays only the 3 sparse rank⋈edge iterations plus two O(|V|) count
    aggregates — never the pair-gen or degree-normalization subtrees.
    The rank side carries the SHUFFLE_HASH pin (small-on-disk edge
    tables otherwise flip Catalyst to broadcasting the O(|E|) side —
    the round-6 pagerank lesson). Seeds = the 2 smallest src keys,
    identical to the rebuild variant's."""
    from is3107datapipelineproject_spark.plans.indexes import copurchase_edge_table

    e = copurchase_edge_table(spark, sf_dir)
    seeds = (
        e.select("src").distinct().orderBy("src").limit(2).select(F.col("src").alias("node"))
    )
    pr = G.personalized_pagerank_prenorm(e.select("src", "dst", "w", "ow"), seeds)
    return pr.select(F.col("node").alias("part_key"), F.col("pr").alias("ppr_scaled"))


@register(
    "pagerank_from_merged_edges",
    oracle=_PAGERANK_ORACLE,
    tags=("graph", "iterative", "materialize", "incremental"),
)
def q_pagerank_from_merged_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph twin of ann_index_append — incremental EDGE-TABLE
    maintenance closed end-to-end: the bucketed arc table is built from
    the base ~86% of orders, the remaining orders' arcs are APPENDED
    (plans/indexes.py::edge_table_append — one pair-gen over the batch,
    never the corpus), and PageRank runs over the MERGE-ON-READ
    normalized view (merged_edge_norm: per-(src,dst) weight sums +
    recomputed out-weights, both exchange-free on the bucketed scan's
    HashPartitioning(src) since src is a subset of every grouping key).
    Arc weights are ADDITIVE over order-grain batches, so the merged
    graph is bit-identical to a full rebuild — this query keeps the
    SAME full-corpus oracle as copurchase_pagerank, which is exactly
    the append==rebuild correctness statement, driver-checked."""
    from is3107datapipelineproject_spark.plans.indexes import (
        edge_append_tables,
        merged_edge_norm,
    )

    table = edge_append_tables(spark, sf_dir)
    pr = G.pagerank_prenorm(merged_edge_norm(spark, table))
    return pr.select(F.col("node").alias("part_key"), F.col("pr").alias("pr_scaled"))
