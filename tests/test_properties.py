"""Property-based tests (SURVEY §5.3): pair-count combinatorics,
incremental-merge algebra, ordinal determinism under row permutation.

Hypothesis drives small random inputs through the real Spark operators;
Python reimplementations (itertools/sets) are the oracles. Example
counts are kept low — each example is a Spark job."""

from __future__ import annotations

import itertools
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from is3107datapipelineproject_spark.operators.incremental import incremental_merge
from is3107datapipelineproject_spark.operators.pair_counts import pair_counts
from is3107datapipelineproject_spark.operators.relational import member_ordinals

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

bridge_strategy = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 8)),  # (group, member)
    min_size=0,
    max_size=40,
)


@given(bridge=bridge_strategy)
@SETTINGS
def test_pair_counts_matches_itertools(spark, bridge):
    """count(a,b) == #groups whose distinct member set contains both —
    duplicates in the bridge must not inflate counts; every pair is
    emitted exactly once with member1 < member2."""
    df = spark.createDataFrame(bridge + [(99, 1)], ["g", "m"])  # pad: never-empty frame
    got = {
        (r.member1, r.member2): r.cnt
        for r in pair_counts(df, "g", "m").collect()
    }
    members_by_group: dict[int, set[int]] = {}
    for g, m in bridge + [(99, 1)]:
        members_by_group.setdefault(g, set()).add(m)
    want = Counter()
    for ms in members_by_group.values():
        for a, b in itertools.combinations(sorted(ms), 2):
            want[(a, b)] += 1
    assert got == dict(want)
    assert all(a < b for a, b in got)


@given(
    old_keys=st.sets(st.integers(0, 15), max_size=10),
    new_keys=st.sets(st.integers(0, 15), max_size=10),
)
@SETTINGS
def test_incremental_merge_algebra(spark, old_keys, new_keys):
    """new = parsed∖known, deleted = known∖parsed,
    next = (known∖deleted) ∪ new; next keyset == parsed keyset; survivors
    keep OLD values (ST4 insert-only upsert)."""
    known = spark.createDataFrame([(k, "old") for k in old_keys] or [(-1, "old")], ["k", "v"])
    parsed = spark.createDataFrame([(k, "new") for k in new_keys] or [(-2, "new")], ["k", "v"])
    ok = old_keys or {-1}
    nk = new_keys or {-2}

    m = incremental_merge(known, parsed, "k")
    assert {r.k for r in m.new.collect()} == nk - ok
    assert {r.k for r in m.deleted.collect()} == ok - nk
    nxt = {r.k: r.v for r in m.next_unique.collect()}
    assert set(nxt) == nk
    for k, v in nxt.items():
        assert v == ("old" if k in ok else "new")


@given(rows=st.permutations(list(range(8))))
@SETTINGS
def test_ordinals_invariant_under_input_order(spark, rows):
    """member_ordinals must assign identical ordinals regardless of the
    input row order (total-order contract)."""
    data = [(i % 2, i, f"m{i}") for i in rows]  # (group, ordcol, payload)
    df = spark.createDataFrame(data, ["g", "o", "m"])
    got = {(r.g, r.o): r.ordinal for r in member_ordinals(df, "g", ["o"]).collect()}
    for g in (0, 1):
        ordered = sorted(o for gg, o in got if gg == g)
        assert [got[(g, o)] for o in ordered] == list(range(1, len(ordered) + 1))


def test_corpus_diff_partitions_ids_and_detects_edits(spark):
    """corpus_diff invariants: every id appears exactly once; statuses
    partition (old ∪ new); an id edited in place is `changed`, never
    `added`+`removed`."""
    from is3107datapipelineproject_spark.operators.incremental import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma EDITED"), (4, "delta")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # normalization: whitespace/case edits are NOT content changes
    new2 = spark.createDataFrame([(2, "  BETA "), (3, "gamma")], ["doc_id", "text"])
    got2 = {r.doc_id: r.status for r in corpus_diff(old, new2).collect()}
    assert got2 == {1: "removed", 2: "unchanged", 3: "unchanged"}


vec_strategy = st.lists(
    st.lists(st.integers(-5, 5), min_size=3, max_size=3),
    min_size=2,
    max_size=18,
)


@given(vecs=vec_strategy)
@SETTINGS
def test_kmeans_assignment_is_argmin(spark, vecs):
    """kmeans_assign is deterministic (hash-seeded centroids, exact
    decimal means) and geometrically consistent: equal-cluster points
    share a centroid, so their sqrt(d2) values obey the triangle bound
    against the true pairwise distance — checked with a pure-Python
    oracle over every pair."""
    from is3107datapipelineproject_spark.operators.clustering import kmeans_assign

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    k = min(3, len(rows))
    df = spark.createDataFrame(rows, ["vid", "vec"])
    out = {r.vid: (r.cluster, r.d2) for r in kmeans_assign(df, "vid", "vec", k=k, iters=1).collect()}
    assert set(out) == {i for i, _ in rows}
    # determinism: the operator seeds centroids by content hash, so a
    # second run over the same data must reproduce the clustering exactly
    again = {
        r.vid: (r.cluster, r.d2) for r in kmeans_assign(df, "vid", "vec", k=k, iters=1).collect()
    }
    assert out == again
    # … and d2 must be consistent: equal-cluster points share a centroid,
    # so the triangle bound |sqrt(d2_a) - sqrt(d2_b)| <= dist(a, b) holds
    import math

    pts = dict(rows)
    for a, (ca, d2a) in out.items():
        for b, (cb, d2b) in out.items():
            if ca == cb:
                dab = math.sqrt(sum((x - y) ** 2 for x, y in zip(pts[a], pts[b])))
                assert abs(math.sqrt(max(d2a, 0)) - math.sqrt(max(d2b, 0))) <= dab + 1e-6


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    target=st.integers(1, 30),
)
@SETTINGS
def test_temperature_sample_membership_is_stable_under_growth(spark, rows, target):
    """Membership is a pure function of (stratum rate, content hash), so
    the kept set is identical across re-runs and repartitionings of the
    same data, and never exceeds the input size.  (A stronger per-row
    stability-under-growth claim does NOT hold: the sqrt-temperature
    normalizer couples strata, so other strata growing can shift every
    rate.)"""
    from is3107datapipelineproject_spark.operators.sampling import temperature_sample

    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept1 = sorted(r.doc_id for r in temperature_sample(df, "source", "doc_id", target).collect())
    kept2 = sorted(
        r.doc_id
        for r in temperature_sample(df.repartition(3), "source", "doc_id", target).collect()
    )
    assert kept1 == kept2
    assert len(kept1) <= len(rows)


def test_lazy_local_checkpoint_backfills_after_partial_first_action(spark):
    """The foundation of the materialization contract in session.py's
    module docstring: after ANY first action — even a limit probe that
    computes one partition — Spark backfills the missing partitions at
    the end of that action, so later full reads over the truncated
    lineage succeed and values are pinned. Every lazy checkpoint in the
    package leans on this; if a Spark upgrade ever changes it, this
    test fails first and every lazy site must be re-audited.

    The values come from a nondeterministic Python UDF, so a recompute
    draws new ones: without the checkpoint the two sums differ, and
    equal sums show the values really are pinned."""
    import random

    from pyspark.sql import functions as F

    draw = F.udf(lambda _: random.random(), "double").asNondeterministic()
    df = (
        spark.range(0, 20000, 1, 8)
        .withColumn("x", draw("id"))
        .localCheckpoint(eager=False)
    )
    assert df.limit(1).count() == 1  # partial first action
    assert df.count() == 20000  # full read over truncated lineage works
    s1 = df.agg(F.sum("x")).first()[0]
    s2 = df.agg(F.sum("x")).first()[0]
    assert s1 == s2  # values pinned at (the end of) the first action


def test_edge_checkpoint_is_serialized_unlike_the_default_level(spark):
    """The two storage levels of session.py's materialization contract.
    A default ``localCheckpoint`` keeps deserialized blocks in memory
    (spilling to disk): no decode per read, but about 12x the serialized
    size. ``graph.checkpoint_edges`` keeps the O(|E|) edge frames
    serialized, the level that bounded driver memory at x100. If a
    Spark upgrade changes either level, this fails and the contract's
    memory reasoning must be re-measured."""
    from is3107datapipelineproject_spark.operators.graph import checkpoint_edges

    jsc = spark.sparkContext._jsc

    def level_of(make):
        before = set(jsc.getPersistentRDDs().keys())
        assert make().count() == 100
        rdds = jsc.getPersistentRDDs()
        added = [k for k in rdds.keys() if k not in before]
        assert len(added) == 1, added
        return rdds[added[0]].getStorageLevel()

    default = level_of(lambda: spark.range(100).localCheckpoint())
    edges = level_of(lambda: checkpoint_edges(spark.range(100)))
    for level in (default, edges):
        assert level.useDisk() and level.useMemory(), level.toString()
    assert default.deserialized(), default.toString()
    assert not edges.deserialized(), edges.toString()
