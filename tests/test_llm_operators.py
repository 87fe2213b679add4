"""Unit tests for the LLM-pipeline operator family (dedup / similarity /
text / multimodal) — properties the oracle parity harness can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.operators import dedup as D
from is3107datapipelineproject_spark.operators import multimodal as M
from is3107datapipelineproject_spark.operators import similarity as S
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet")


def test_exact_dedup_collapses_planted_copies(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    out = {r.fingerprint: r for r in D.exact_dedup_groups(df, "text", "doc_id").collect()}
    assert len(out) == 2
    copies = {r.n_copies for r in out.values()}
    assert copies == {1, 2}
    dup = next(r for r in out.values() if r.n_copies == 2)
    assert dup.keeper_id == 1  # deterministic survivor = min id


def test_minhash_finds_planted_neardup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated content about spark shuffles and parquet files here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {(r.doc1, r.doc2) for r in D.minhash_neardup_pairs(df, "text", "doc_id", threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_no_allpairs_expansion(docs):
    """The candidate join must be an equi-join on band keys, not a cross
    product: the physical plan may not contain a CartesianProduct or
    BroadcastNestedLoopJoin."""
    plan = D.minhash_neardup_pairs(docs, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_simhash_band_pigeonhole_matches_bruteforce(docs):
    """The banded equi-join must find exactly the pairs brute force finds
    at hamming <= 3 (pigeonhole guarantee)."""
    sig = D.simhash_signatures(docs, "text", "doc_id").withColumnRenamed("simhash", "sh")
    a, b = sig.alias("a"), sig.alias("b")
    brute = {
        (r.d1, r.d2)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    banded = {
        (r.doc1, r.doc2)
        for r in D.simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    }
    assert banded == brute


def test_minhash_tiers_accept_shared_signature_frame(spark):
    """r13 shared-signature discipline: passing a (filtered view of a)
    precomputed minhash_doc_signatures frame must reproduce every
    tier's output bit-for-bit — signatures are a deterministic row-wise
    function of the text, so sharing one pass across chained tiers can
    never change pairs."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    sigs = D.minhash_doc_signatures(docs, "text", "doc_id").localCheckpoint(eager=False)
    s_old = sigs.filter(F.col("doc_id") % 5 != 0)
    s_new = sigs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    base = {tuple(r) for r in D.minhash_neardup_pairs(old, "text", "doc_id", threshold=0.8).collect()}
    shared = {
        tuple(r)
        for r in D.minhash_neardup_pairs(
            old, "text", "doc_id", threshold=0.8, sig_frame=s_old
        ).collect()
    }
    assert shared == base and base, "pairs differ under a shared signature frame"

    ib = {tuple(r) for r in D.incremental_neardup(old, new, "text", "doc_id", threshold=0.8).collect()}
    ish = {
        tuple(r)
        for r in D.incremental_neardup(
            old, new, "text", "doc_id", threshold=0.8,
            old_sig_frame=s_old, new_sig_frame=s_new,
        ).collect()
    }
    assert ish == ib and ib, "incremental pairs differ under a shared signature frame"


def test_cosine_topk_self_excluded_and_ranked(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    out = S.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), "vec_id", "embedding", k=5)
    rows = out.collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cosine for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_ivf_topk_sweep_matches_per_point_ivf_topk(spark):
    """r13 single-scoring-pass sweep: for every p, the sweep's rows
    tagged probes=p must equal ivf_topk(probes=p) exactly — candidate
    restriction by probe rank is the SAME set each per-point run
    rescored, so recall curves derived from either are identical."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20)
    sweep = S.ivf_topk_sweep(
        emb, qs, "vec_id", "embedding", "label", probes_list=(1, 2, 4), k=5
    ).collect()
    for p in (1, 2, 4):
        got = {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in sweep
            if r.probes == p
        }
        want = {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in S.ivf_topk(
                emb, qs, "vec_id", "embedding", "label", probes=p, k=5
            ).collect()
        }
        assert got == want, f"probes={p}: sweep != per-point ivf_topk"


def test_cosine_topk_guards_huge_query_broadcast(spark):
    """The exact tier broadcasts the query side; a query frame over the
    limit must raise toward the bucketed/IVF tiers instead of OOMing
    every executor at scale."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    with pytest.raises(ValueError, match="ivf_topk"):
        S.cosine_topk(emb, emb, "vec_id", "embedding", k=5, max_broadcast_queries=10)
    # explicit opt-up past the guard still works
    out = S.cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < 3),
        "vec_id",
        "embedding",
        k=1,
        max_broadcast_queries=10,
    )
    assert out.count() > 0


def test_bucketed_topk_stays_in_bucket(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    out = S.cosine_topk_bucketed(
        emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", "label", k=3
    ).collect()
    assert out
    for r in out:
        assert labels[r.neighbor_id] == labels[r.query_id] == r.bucket


def test_multimodal_payload_roundtrip(docs):
    """The mapInPandas decode kernel must see the exact payload bytes:
    its md5 equals Spark's JVM-side md5 of the same binary column."""
    frame = M.attach_payload(docs.limit(50), "text", "doc_id")
    assert dict(frame.dtypes)["payload"] == "binary"
    assert dict(frame.dtypes)["meta"].startswith("struct<modality:string")
    decoded = M.decode_stub(frame)
    jvm = frame.select("doc_id", F.md5("payload").alias("jvm_md5"), F.octet_length("payload").cast("bigint").alias("jvm_len"))
    joined = decoded.join(jvm, "doc_id")
    bad = joined.filter(
        (F.col("content_md5") != F.col("jvm_md5")) | (F.col("n_bytes") != F.col("jvm_len"))
    ).count()
    assert bad == 0
    assert decoded.count() == 50


def test_multimodal_resize_and_frames_deterministic(docs):
    """The fake resize/frame-sample kernels must match a pure-Python
    rederivation of the same byte transforms on the actual payloads."""
    import hashlib

    frame = M.attach_payload(docs.limit(20), "text", "doc_id")
    texts = {r.doc_id: r.text.encode("utf-8") for r in docs.limit(20).collect()}

    for r in M.resize_images(frame, stride=M.RESIZE_STRIDE).collect():
        b = texts[r.doc_id]
        resized = b[:: M.RESIZE_STRIDE]
        assert r.n_bytes == len(b)
        assert r.n_resized == len(resized)
        assert r.resample_md5 == hashlib.md5(resized.hex().upper().encode()).hexdigest()

    for r in M.sample_frames(frame, every_n=M.FRAME_EVERY_N).collect():
        b = texts[r.doc_id]
        frames = [b[j : j + M.FRAME_BYTES] for j in range(0, len(b), M.FRAME_BYTES)]
        kept = b"".join(frames[:: M.FRAME_EVERY_N])
        assert r.n_frames == len(frames)
        assert r.n_kept == len(frames[:: M.FRAME_EVERY_N])
        assert r.sample_md5 == hashlib.md5(kept.hex().upper().encode()).hexdigest()


def test_blocked_jaccard_symmetric_threshold(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e", "s1"),
            (2, "a b c d f", "s1"),
            (3, "a b c d e", "s2"),  # identical text, different block -> never paired
            (4, "z y x w v", "s1"),
        ],
        ["doc_id", "text", "source"],
    )
    pairs = {(r.doc1, r.doc2): r.jaccard for r in D.blocked_jaccard_pairs(df, "text", "doc_id", "source", 0.5).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == pytest.approx(4 / 6, abs=1e-4)


def test_neardup_clusters_raises_on_nonconvergence(spark):
    # A path graph needs ~diameter label-propagation rounds; with
    # max_iters=1 labels are still moving when iterations run out — the
    # silent-wrong-labels failure mode must raise instead.
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc1 long, doc2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.neardup_clusters(nodes, pairs, max_iters=1)
    full = D.neardup_clusters(nodes, pairs, max_iters=20)
    assert {r["cluster_id"] for r in full.collect()} == {1}


def test_minhash_hot_band_not_dropped(spark):
    """Planted hot band: more near-identical docs than max_bucket share
    every band. The old code silently dropped such buckets (zero pairs,
    a recall cliff on boilerplate-heavy corpora); the second-pass banding
    + star fallback must still link the whole cluster."""
    n = 30
    text = "identical boilerplate header shared across every mirrored page body"
    rows = [(i, text) for i in range(1, n + 1)]
    rows += [(100, "entirely different content about something unrelated warm")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = D.minhash_neardup_pairs(df, "text", "doc_id", threshold=0.8, max_bucket=8)
    got = [(r.doc1, r.doc2, r.jaccard) for r in pairs.collect()]
    assert got, "hot band produced zero pairs — overflow bucket dropped"
    assert all(j == 1.0 for _, _, j in got)
    assert all(d1 != 100 and d2 != 100 for d1, d2, _ in got)

    # Connectivity is the contract: one cluster, one survivor.
    clusters = D.neardup_clusters(df, pairs)
    labels = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert {labels[i] for i in range(1, n + 1)} == {1}
    assert labels[100] == 100
    kept = {r.doc_id for r in D.dedup_corpus(df, "text", threshold=0.8).collect()}
    assert kept == {1, 100}


def test_minhash_second_pass_subdivides_hot_band(spark):
    """Hot bucket whose members are NOT all near-dups: distinct doc
    groups that collide on one band must be separated by the finer
    second-pass banding, emitting only the true high-Jaccard pairs."""
    # Two planted near-dup groups + shared boilerplate filler sentences;
    # small max_bucket forces any shared band into the second pass.
    g1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    g2 = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (1, g1 + " lambda"),
        (2, g1 + " omega"),
        (11, g2 + " thirteen"),
        (12, g2 + " fourteen"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc1, r.doc2)
        for r in D.minhash_neardup_pairs(
            df, "text", "doc_id", threshold=0.5, max_bucket=2
        ).collect()
    }
    assert (1, 2) in got and (11, 12) in got
    assert not any({a, b} & {1, 2} and {a, b} & {11, 12} for a, b in got)


def test_simhash_hot_band_bounded_not_dropped(spark):
    """Planted hot band for SIMHASH: more identical docs than max_bucket
    share every 15-bit band. The pair output must stay bounded (the
    residual star emits n-1 pairs, not C(n,2)) while keeping the cluster
    connected — the same contract the minhash hot path honors."""
    n = 30
    text = "identical boilerplate header shared across every mirrored page body"
    rows = [(i, text) for i in range(1, n + 1)]
    rows += [(100, "entirely different content about something unrelated warm")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = D.simhash_neardup_pairs(df, "text", "doc_id", max_hamming=3, max_bucket=8)
    got = [(r.doc1, r.doc2, r.hamming) for r in pairs.collect()]
    assert got, "hot band produced zero pairs — overflow bucket dropped"
    assert all(h == 0 for _, _, h in got)
    assert all(d1 != 100 and d2 != 100 for d1, d2, _ in got)
    # Bounded: identical docs collapse to the min-id star (n-1 pairs),
    # never the quadratic C(n,2) enumeration the old self-join produced.
    assert len(got) == n - 1
    assert all(d1 == 1 for d1, _, _ in got)

    clusters = D.neardup_clusters(df, pairs)
    labels = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert {labels[i] for i in range(1, n + 1)} == {1}
    assert labels[100] == 100


def test_simhash_small_buckets_unchanged_by_cap(spark):
    """With no hot bands the capped path must emit exactly the pairs the
    uncapped path does (the bucketed combination generator replaces the
    band self-join 1:1)."""
    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappb"),
        (3, "one two three four five six seven eight nine ten"),
        (4, "one two three four five six seven eight nine ten eleven"),
        (5, "completely unrelated text mentioning nothing shared at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = {
        (r.doc1, r.doc2, r.hamming)
        for r in D.simhash_neardup_pairs(df, "text", "doc_id", max_bucket=1024).collect()
    }
    tiny_corpus_exact = {
        (r.doc1, r.doc2, r.hamming)
        for r in D.simhash_neardup_pairs(df, "text", "doc_id", max_bucket=100000).collect()
    }
    assert capped == tiny_corpus_exact


def test_simhash_rejects_max_hamming_beyond_pigeonhole(spark):
    """With 4 bands, 4 flipped bits can touch every band, so qualifying
    pairs would share no band key and be dropped. The check must raise
    a real error, not an assert that ``python -O`` strips."""
    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_neardup_pairs(df, "text", "doc_id", max_hamming=4)


def test_sig_frame_checked_where_it_enters(spark):
    """A precomputed signature frame built with another shingle length,
    or missing signature columns, must be rejected, not bucketed: its
    sets are not the sets the call's k describes."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta zeta")],
        ["doc_id", "text"],
    )
    k5 = D.minhash_doc_signatures(df, "text", "doc_id", k=5)
    with pytest.raises(ValueError, match="k=5"):
        D.minhash_neardup_pairs(df, "text", "doc_id", k=3, sig_frame=k5)
    with pytest.raises(ValueError, match="k=5"):
        D.incremental_neardup(df, df, "text", "doc_id", k=3, old_sig_frame=k5)
    with pytest.raises(ValueError, match="mh15"):
        D.band_signature_frame(df, "text", "doc_id", sig_frame=k5.drop("mh15"))
    # the matching k passes and equals the self-computed signatures
    k3 = D.minhash_doc_signatures(df, "text", "doc_id", k=3)
    got = D.minhash_neardup_pairs(df, "text", "doc_id", threshold=0.1, sig_frame=k3)
    want = D.minhash_neardup_pairs(df, "text", "doc_id", threshold=0.1)
    assert sorted(got.collect()) == sorted(want.collect())


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = fn().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows


def test_band_tiers_job_counts_pinned(spark):
    """With no hot band, a MinHash or SimHash call runs the bucket
    checkpoint, the hot-bucket probe and the pair job — 6 Spark jobs
    each with the result collected, as measured before the two tiers
    shared one bucket body. Any further probe on the common path (such
    as the band table's NULL-sig check) shows up here."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("today", "tomorrow")),
            (3, base),
            (4, "completely unrelated content about spark shuffles and parquet files"),
            (5, "a third document with its own words and nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    n_mh, mh = _jobs_of(
        spark, "minhash_job_pin", lambda: D.minhash_neardup_pairs(df, "text", "doc_id")
    )
    n_sh, sh = _jobs_of(
        spark, "simhash_job_pin", lambda: D.simhash_neardup_pairs(df, "text", "doc_id")
    )
    assert {(r.doc1, r.doc2) for r in mh} >= {(1, 3)}
    assert (1, 3, 0) in {(r.doc1, r.doc2, r.hamming) for r in sh}
    assert (n_mh, n_sh) == (6, 6)


def test_dedup_lines_keeps_first_occurrence_only(spark):
    from is3107datapipelineproject_spark.operators.contamination import dedup_lines

    pages = spark.createDataFrame(
        [
            (1, "nav bar\nunique one"),
            (2, "nav bar\nunique two\nnav bar"),
            (3, "unique three"),
        ],
        ["page_id", "text"],
    )
    out = {r.page_id: r for r in dedup_lines(pages, "text", "page_id").collect()}
    assert out[1].text_clean == "nav bar\nunique one"
    # both later copies of the hot line drop, including the within-page one
    assert out[2].text_clean == "unique two"
    assert (out[2].n_lines, out[2].n_kept) == (3, 1)
    assert out[3].text_clean == "unique three"
    assert (out[1].n_lines, out[1].n_kept) == (2, 2)


def test_dedup_lines_no_window_over_line_key(docs):
    """The keep-first decision must be the combinable min-aggregate, not a
    row_number window partitioned by the (skewed) line content — hot
    boilerplate lines would serialize through one reducer otherwise."""
    from is3107datapipelineproject_spark.operators.contamination import dedup_lines

    pages = docs.select(F.col("doc_id").alias("page_id"), "text")
    plan = (
        dedup_lines(pages, "text", "page_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_neardup_broadcasts_batch_not_corpus(docs):
    """The arriving batch's band frame must be the BROADCAST side and
    the corpus side must reach the join without an exchange of its own
    (scan → project → join): zero corpus shuffle is the operator's
    entire scale contract."""
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    out = D.incremental_neardup(old, new, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only Exchanges allowed are the broadcast of the new side and
    # the distinct's shuffle AFTER the join — none may feed the corpus
    # side of the join (i.e. no 'Exchange hashpartitioning(band' …)
    assert "hashpartitioning(band" not in plan

    # correctness of the split semantics: every returned pair crosses
    # the batch/corpus boundary
    rows = out.collect()
    assert all(r.new_id % 5 == 0 and r.old_id % 5 != 0 for r in rows)


def test_dup_ngram_fraction_planted(spark):
    """Two identical docs share every 3-gram (frac 1.0); a disjoint doc
    shares none (frac 0.0)."""
    from is3107datapipelineproject_spark.operators.contamination import dup_ngram_fraction

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dup_ngram_fraction(df, "text", "doc_id", k=3).collect()}
    assert out[1].dup_frac == 1.0 and out[2].dup_frac == 1.0
    assert out[3].dup_frac == 0.0
    assert out[1].n_grams == 3 and out[1].n_dup == 3


def test_hard_negatives_excludes_same_label(spark):
    """The nearest vector overall shares the query's label and must NOT
    appear; the nearest other-label vector must rank first."""
    rows = [
        (0, [1.0, 0.0], 0),      # query
        (1, [0.99, 0.1], 0),     # nearest, same label -> excluded
        (2, [0.9, 0.2], 1),      # nearest other-label -> rank 1
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "vec", "label"])
    out = S.hard_negatives(
        df, df.filter(F.col("vec_id") == 0), "vec_id", "vec", "label", k=3
    ).collect()
    ids = [r.negative_id for r in sorted(out, key=lambda r: r.rank)]
    assert 1 not in ids
    assert ids[0] == 2


def test_hard_negatives_guards_query_broadcast(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(20)], ["vec_id", "vec", "label"]
    )
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        S.hard_negatives(df, df, "vec_id", "vec", "label", k=2, max_broadcast_queries=5)


def test_temperature_sample_flattens_mixture(spark):
    """w proportional to sqrt(n): the small stratum's keep RATE must exceed the big
    stratum's, and membership must be partition-independent."""
    from is3107datapipelineproject_spark.operators.sampling import temperature_sample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = temperature_sample(df, "source", "doc_id", n_target=100).collect()
    by_src = {"big": 0, "small": 0}
    for r in kept:
        by_src[r.source] += 1
    # raw shares are 90%/10%; sqrt-flattened quotas are 75%/25% --
    # the small stratum's keep rate (kept/size) must be boosted above
    # the big stratum's
    assert by_src["small"] / 100 > by_src["big"] / 900
    again = temperature_sample(df.repartition(13), "source", "doc_id", n_target=100).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in kept)


def test_containment_catches_subset_doc(spark):
    """A short doc fully quoted inside a long doc has containment 1.0
    even though its Jaccard to the long doc is small."""
    from is3107datapipelineproject_spark.operators.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.upper().lower())],
        ["doc_id", "text"],
    )
    out = containment_pairs(df, "text", "doc_id", k=3, threshold=0.9).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc1, r.doc2) == (1, 2)
    assert r.containment >= 0.9


def test_containment_stop_gram_cap_bounds_candidates(spark):
    """A gram shared by MORE than max_gram_df docs must not generate
    pair candidates: with every doc sharing one hot phrase and nothing
    else, a capped run returns no pairs."""
    from is3107datapipelineproject_spark.operators.dedup import containment_pairs

    hot = "the exact same cookie banner text"
    rows = [(i, f"{hot} unique{i}a unique{i}b unique{i}c unique{i}d") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = containment_pairs(df, "text", "doc_id", k=3, threshold=0.1, max_gram_df=10).collect()
    assert out == []


def test_blocklist_counts_occurrences_not_types(spark):
    from is3107datapipelineproject_spark.operators.text import blocklist_stats

    df = spark.createDataFrame(
        [(1, "slow slow error fine"), (2, "all clean here"), (3, "CRASH upper untouched")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.n_blocked, r.has_blocked) for r in
           blocklist_stats(df, "text", "doc_id").collect()}
    # occurrences, not distinct types: doc 1 has slow x2 + error = 3
    assert out[1] == (3, True)
    assert out[2] == (0, False)
    # normalize_text lowercases first, so CRASH matches
    assert out[3] == (1, True)


def test_vocab_growth_conserves_vocabulary(spark):
    from is3107datapipelineproject_spark.operators.text import vocab_growth

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    rows = vocab_growth(docs, "text", "doc_id").orderBy("bucket").collect()
    assert [r.bucket for r in rows] == list(range(len(rows)))
    # each type is counted as new exactly once: cum_types ends at |vocab|
    from is3107datapipelineproject_spark.operators.text import ws_tokens

    vocab = docs.select(F.explode(ws_tokens("text")).alias("t")).distinct().count()
    assert rows[-1].cum_types == sum(r.new_types for r in rows) == vocab
    # cumulative columns are prefix sums of the per-bucket columns
    assert rows[-1].cum_tokens == sum(r.n_tokens for r in rows)
    for prev, cur in zip(rows, rows[1:]):
        assert cur.cum_types == prev.cum_types + cur.new_types
    # partitioning must not change bucket assignment (integer arithmetic
    # off a broadcast max-id, not any physical order)
    again = vocab_growth(docs.repartition(7), "text", "doc_id").orderBy("bucket").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_zipf_slope_flat_on_uniform_steep_on_skewed(spark):
    from is3107datapipelineproject_spark.operators.text import zipf_slope

    uniform = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(20))) for i in range(5)],
        ["doc_id", "text"],
    )
    r = zipf_slope(uniform, "text").collect()[0]
    # every freq equal -> flat slope; r2 undefined (var(y)=0) -> NULL
    assert r.n_terms == 20 and r.slope == 0.0 and r.r2 is None

    # zipf-ish: token j appears ~N/j times
    skewed_tokens = []
    for j in range(1, 21):
        skewed_tokens += [f"w{j}"] * (200 // j)
    skewed = spark.createDataFrame([(1, " ".join(skewed_tokens))], ["doc_id", "text"])
    r2 = zipf_slope(skewed, "text").collect()[0]
    assert r2.n_terms == 20
    assert r2.slope < -0.8 and r2.r2 > 0.95  # near ideal zipf


def test_bm25_ranks_term_dense_doc_first(spark):
    """BM25: a document dense in query terms outranks a diluted one;
    documents with no query term are excluded entirely."""
    from is3107datapipelineproject_spark.operators.text import bm25_search

    rows = [
        (1, "hash join hash join hash"),
        (2, "hash join plus lots of other words " + "filler " * 40),
        (3, "completely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_search(df, "text", "doc_id", ["hash", "join"], top_n=10).collect()
    ids = [r["doc_id"] for r in got]
    assert ids[0] == 1, "short term-dense doc must rank first (dl normalization)"
    assert 3 not in ids
    assert all(got[i]["score"] >= got[i + 1]["score"] for i in range(len(got) - 1))


def test_prefix_jaccard_matches_bruteforce_and_beats_lsh_recall(spark):
    """The prefix-filtered join must return EXACTLY the brute-force
    shingle-Jaccard pairs ≥ τ — the filters are lossless by theorem, so
    any miss is a bug (the classic failure is an over-tight ⌈·⌉ from
    float representation error)."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    rows = [(1, base), (2, base.replace("tango", "uniform")), (3, base.replace("alpha bravo", "zulu yankee"))]
    rows += [(10 + i, f"doc {i} unrelated filler text about topic {i} entirely distinct") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r.doc1, r.doc2, r.jaccard)
        for r in D.prefix_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    # brute force on the same shingle-hash sets
    sets = {
        r.doc_id: set(r.hs)
        for r in df.select("doc_id", D.shingle_hash_set("text").alias("hs")).collect()
    }
    want = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 4)
                if j >= 0.5:
                    want.add((a, b, j))
    assert got == want
    assert len(want) >= 2  # the planted near-dups actually matched


def test_prefix_jaccard_guard_trips_on_duplicate_saturated_corpus(spark):
    """A corpus of byte-equal copies makes every shingle equally common —
    the prefix postings ARE the corpus and the candidate join would be
    quadratic. The count-guard must raise toward exact_dedup-first
    instead of shuffling n² pairs."""
    df = spark.createDataFrame(
        [(i, "same boilerplate sentence repeated everywhere forever") for i in range(30)],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="exact_dedup first"):
        D.prefix_jaccard_pairs(df, "text", "doc_id", threshold=0.5, max_prefix_posting=10)


def test_word_shingles_zip_shape_matches_reference_semantics(spark):
    """r12 regression pin for the zip_with word_shingles rewrite: the
    shifted-slice shape must reproduce the original
    transform(sequence)/slice semantics for every input class — normal
    docs, docs shorter than k (one truncated shingle), empty and
    whitespace-only text (one empty shingle) and NULL text (one empty
    shingle) — for every k in use (containment uses k=2, the minhash
    family k=3)."""
    from pyspark.sql import functions as F

    from is3107datapipelineproject_spark.operators.text import ws_tokens

    def reference_shingles(col, k):
        toks = ws_tokens(col)
        n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n), lambda i: F.concat_ws(" ", F.slice(toks, i, k))
        )

    rows = [
        (1, None),
        (2, ""),
        (3, "   \n\t "),
        (4, "a"),
        (5, "a b"),
        (6, "a b c"),
        (7, "  A   B\tC  d E "),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    for k in (2, 3, 4):
        old = df.select("id", reference_shingles("text", k).alias("s")).collect()
        new = df.select("id", D.word_shingles("text", k).alias("s")).collect()
        assert [(r.id, r.s) for r in old] == [(r.id, r.s) for r in new], f"k={k}"
    # the short-doc contract verbatim: one truncated shingle, never []
    got = df.filter("id = 5").select(D.word_shingles("text", 3).alias("s")).first().s
    assert got == ["a b"]
