"""Planted-case tests for the round-6 session-2 operators — the house
pattern: each op's trickiest semantic gets an adversarial input and an
independent re-derivation (not the operator's own code path).

- BPE: the merge loop vs a from-scratch pure-python BPE with the same
  declared semantics (left-to-right non-overlapping merge pass, ties to
  the lexicographically smaller pair) on a vocabulary crafted to hit
  boundary-sharing repeats ('a b a b') and cross-round merge chaining.
- Morton: bit-interleave against integer arithmetic.
- KMV: estimates against planted ground-truth overlap, within the
  published error band.
- assign_top2: best must equal the plain assignment, second must
  dominate it.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _py_bpe(word_freq: dict[str, int], rounds: int) -> list[tuple[str, int]]:
    """Independent BPE: same declared semantics as the operator."""
    seqs = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(rounds):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_freq[w]
        if not counts:
            break
        # max count, ties to lexicographically smaller "a b" string
        best = min(counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        (a, b), cnt = best
        merges.append((f"{a} {b}", cnt))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2  # left-to-right, non-overlapping
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges


def test_bpe_matches_independent_implementation(spark):
    from is3107datapipelineproject_spark.operators.text import bpe_learn_merges

    # 'abab' exercises boundary-sharing repeats; 'aaab'/'aaaa' exercise
    # greedy-left runs; 'ab'-heavy words force cross-round chaining
    # (round 2+ merges involve the round-1 'ab' symbol).
    vocab = {"abab": 7, "aaab": 5, "aaaa": 4, "abc": 6, "bc": 3, "cab": 2}
    rows = []
    for w, f in vocab.items():
        rows.extend([(w,)] * f)
    docs = spark.createDataFrame(rows, ["text"]).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    got = [
        (r.pair, r.merge_count)
        for r in bpe_learn_merges(docs, "text", "doc_id", rounds=3)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == _py_bpe(vocab, 3), got


def test_bpe_fertility_invariants(spark):
    from is3107datapipelineproject_spark.operators.text import bpe_fertility_stats

    docs = spark.createDataFrame(
        [("the cat sat on the mat the cat",), ("the the the",)], ["text"]
    ).withColumn("doc_id", F.monotonically_increasing_id())
    r = bpe_fertility_stats(docs, "text").first()
    # 11 words, char total fixed by input, merges only shrink tokens
    assert r.n_words == 11
    assert r.n_chars == sum(len(w) for w in
                            "the cat sat on the mat the cat the the the".split())
    assert r.n_tokens <= r.n_chars
    assert r.chars_per_token >= 1.0


def test_morton_interleave_bits(spark):
    from is3107datapipelineproject_spark.plans.indexes import morton_z16

    def py_z(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (1, 0), (0, 1), (0b1010, 0b0110), (65535, 0), (0, 65535),
             (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(cases, ["a", "b"]).select(
        "a", "b", morton_z16(F.col("a").cast("long"), F.col("b").cast("long")).alias("z")
    )
    for r in df.collect():
        assert r.z == py_z(r.a, r.b), (r.a, r.b, r.z)


def test_kmv_estimates_within_error_band(spark):
    from is3107datapipelineproject_spark.operators.sketches import (
        kmv_pair_estimates,
        kmv_sketches,
    )

    rows = [("A", f"item{i}") for i in range(1000)] + [
        ("B", f"item{i}") for i in range(500, 1500)
    ]
    df = spark.createDataFrame(rows, ["key", "item"])
    est = kmv_pair_estimates(kmv_sketches(df, "key", "item")).first()
    # true J = 500/1500 = 0.3333, true union = 1500; k=256 → σ ≈ 1/√k ≈ 0.06
    assert abs(est.jaccard_est - 1 / 3) < 0.1, est
    assert abs(est.union_est - 1500) / 1500 < 0.15, est


def test_assign_top2_consistent_with_assignment(spark):
    from is3107datapipelineproject_spark.operators.clustering import (
        assign_to_centroids,
        assign_top2,
        kmeans_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1)
    a1 = {r.vec_id: (r.cluster, r.d2) for r in
          assign_to_centroids(emb, "vec_id", "embedding", cents).collect()}
    a2 = {r.vec_id: (r.cluster, r.d2_own, r.d2_alt) for r in
          assign_top2(emb, "vec_id", "embedding", cents).collect()}
    assert set(a1) == set(a2)
    for vid, (c, d) in a1.items():
        c2, down, dalt = a2[vid]
        assert c2 == c and down == d
        assert dalt >= down


def test_assign_top2_rejects_single_centroid_codebook(spark):
    """k=1 has no second-nearest distance anywhere; silently returning
    an empty frame was an API footgun — it must raise instead."""
    import pytest

    from is3107datapipelineproject_spark.operators.clustering import (
        assign_top2,
        kmeans_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=1, iters=1)
    with pytest.raises(ValueError, match="2 centroids"):
        assign_top2(emb, "vec_id", "embedding", cents)


def test_edit_neardup_lossless_beyond_32_chars(spark):
    """The probe keys must be length-coupled, not a fixed {15,16} grid:
    lev<=1 pairs among 40-char titles (substitution, insertion,
    deletion) and across 39/40/41-char lengths must all be found, plus
    identical titles must collapse to one representative with grp=2."""
    from is3107datapipelineproject_spark.operators.dedup import edit_neardup_pairs

    base = "the quick brown fox jumps over the dog!"  # 40 chars
    rows = [
        (1, base),
        (2, base[:20] + "Z" + base[21:]),   # substitution (len 40)
        (3, base[:33] + "Z" + base[33:]),   # insertion in chunk2 (len 41)
        (4, base[:5] + base[6:]),           # deletion in chunk1 (len 39)
        (5, base),                          # exact duplicate of 1
        (6, "a completely unrelated title of size 40"),
    ]
    df = spark.createDataFrame(rows, ["tid", "tt"])
    out = {(r.a, r.b): (r.lev, r.na, r.nb) for r in
           edit_neardup_pairs(df, "tid", "tt").collect()}
    assert set(out) == {(1, 2), (1, 3), (1, 4)}, out
    assert all(v[0] == 1 for v in out.values())
    assert out[(1, 2)][1] == 2, "identical titles 1 and 5 must collapse with grp=2"


def _jobs_of(spark, group: str, action):
    """``(Spark jobs run by action(), its result)``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def _edit_rows(spark):
    base = "the quick brown fox jumps over the dog!"  # 40 chars
    rows = [
        (1, base),
        (2, base[:20] + "Z" + base[21:]),
        (3, base[:33] + "Z" + base[33:]),
        (4, base[:5] + base[6:]),
        (5, base),
        (6, "a completely unrelated title of size 40"),
        (7, "short one"),
        (8, "short onx"),
    ]
    return spark.createDataFrame(rows, ["tid", "tt"])


def test_edit_neardup_pairs_job_pin(spark):
    """Call plus collect: the hot-key guard's jobs and the result's, with
    no eager result checkpoint in between (13 jobs with it, 11 without,
    on this input at local[4] with 8 shuffle partitions). Adaptive
    execution's stage timing adds one job to the result's action in
    some runs, so the pin is 12: still one below the eager version."""
    from is3107datapipelineproject_spark.operators.dedup import edit_neardup_pairs

    df = _edit_rows(spark)
    jobs, out = _jobs_of(
        spark, "edit_neardup_job_pin", lambda: edit_neardup_pairs(df, "tid", "tt").collect()
    )
    assert len(out) == 4, out
    assert jobs <= 12, jobs


def test_incremental_edit_neardup_job_pin(spark):
    """Same pin for the new×old twin: guard jobs plus the result's (13
    jobs with the eager result checkpoint, 11 without, plus the one job
    adaptive execution's timing may add)."""
    from is3107datapipelineproject_spark.operators.dedup import incremental_edit_neardup

    df = _edit_rows(spark)
    old, new = df.filter("tid % 2 = 1"), df.filter("tid % 2 = 0")
    jobs, out = _jobs_of(
        spark,
        "incremental_edit_neardup_job_pin",
        lambda: incremental_edit_neardup(old, new, "tid", "tt").collect(),
    )
    assert len(out) == 3, out
    assert jobs <= 12, jobs
