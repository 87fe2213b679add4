"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Beyond-reference surface (driver mandate): the reference deduplicates by
exact key only (`/root/reference/main_dag.py:143-148`); a training-data
pipeline needs content-level dedup. Every operator here is built from
JVM column expressions + equi-joins — no Python UDFs, no cross joins:

- exact:    fingerprint = md5(normalized text); one hash-aggregate.
- MinHash:  per-doc signature is a NARROW computation (array lambdas over
            the shingle-hash set — no explode, no shuffle); the only
            shuffles are the band-bucket self-join (keys = band
            signatures, cardinality ≈ corpus size × BANDS) and the final
            verify join. This is the canonical web-scale near-dup plan:
            candidate generation is O(n) shuffle, never O(n²).
- SimHash:  narrow 60-bit signature; Hamming-≤3 pairs found via the
            4-band pigeonhole (3 differing bits can't touch all 4 bands,
            so every qualifying pair shares ≥1 exact band key).
- Jaccard:  exact token-set similarity within metadata blocks (the
            "blocked pairwise" pattern — quadratic only inside a block).

All hash primitives derive from md5 so an ANSI-SQL oracle (DuckDB) can
reproduce them bit-for-bit; Spark's murmur3 `hash()` would be faster but
unverifiable cross-engine. Swap `h28`/`h60` for `xxhash64` in a
production profile if oracle parity is not needed.

Scaling note (measured on a 10× corpus where every doc has ~10 near-
copies): the near-dup operators are OUTPUT-bound — runtime grew ~40×
while the emitted pair count grew ~1000×, i.e. sublinear per pair. On a
copy-heavy corpus the pair set itself is quadratic in cluster size; the
pipeline answer is (a) run exact_dedup FIRST so byte-identical copies
collapse before near-dup detection, and (b) when clusters are the goal,
union-find over the pair stream (connected components) instead of
materializing all intra-cluster pairs.
"""

from __future__ import annotations

from functools import reduce
from operator import add, and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from is3107datapipelineproject_spark.operators.text import normalize_text, ws_tokens

# MinHash parameters. P is the Mersenne prime 2^31-1; a/b are fixed
# pseudo-random coefficients (generated once from a seeded RNG, frozen
# here so Spark and any SQL oracle agree). a*h stays < 2^59 because
# h < 2^28 (h28) — no int64 overflow in either engine.
MINHASH_P = 2_147_483_647
MINHASH_A = (
    1_203_563_241, 676_126_093, 1_909_745_581, 278_347_913,
    1_527_389_449, 97_134_217, 1_131_967_813, 1_846_079_011,
    412_776_619, 1_664_018_129, 734_921_567, 1_295_486_123,
    564_237_779, 1_987_654_291, 158_904_637, 1_403_562_193,
)
MINHASH_B = (
    882_347_561, 1_472_936_809, 234_786_101, 1_938_472_657,
    672_348_919, 1_102_938_473, 1_750_392_841, 89_234_561,
    1_302_948_573, 448_273_619, 1_884_726_353, 912_384_757,
    1_593_842_671, 302_184_977, 1_029_384_755, 769_283_441,
)
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # MINHASH_K // LSH_BANDS

SIMHASH_BITS = 60  # fits signed int64; 4 bands × 15 bits
SIMHASH_BANDS = 4

# metadata key on a signature frame's ``shingles`` column: the k it was built with
SHINGLE_K_KEY = "shingle_k"


def _max_partition_bytes(spark) -> int:
    """``spark.sql.files.maxPartitionBytes`` as an int, handling the JVM
    byte-string spellings (plain digits = bytes; k/m/g[b] suffixes)."""
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if raw.endswith(suffix):
            raw, mult = raw[: -len(suffix)], m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return 128 << 20


def spread_small_input(df: DataFrame) -> DataFrame:
    """Parallelism guard for CPU-heavy narrow stages: a small parquet
    file arrives as ONE partition, serializing the whole signature
    computation on one core. If the scan is under-partitioned relative
    to the cluster, pay one tiny shuffle to spread it; at real scale the
    input already has ≥ cores partitions and this is a no-op.

    The under-partitioning probe estimates scan splits from the source
    file listing (metadata only — ~ms): sum over files of
    ceil(size / maxPartitionBytes), reading the split size from the live
    session conf so a tuned ``spark.sql.files.maxPartitionBytes`` keeps
    the estimate aligned with Spark's real splits. (The estimate still
    ignores openCostInBytes bin-packing — it UNDERcounts splits, which
    only errs toward a harmless extra repartition, never a wrong no-op
    for genuinely under-partitioned scans wider than one split.)
    The previous probe (``df.rdd.getNumPartitions()``) forced physical
    planning plus Python-RDD setup — ~1 s of driver time per fresh plan,
    which dominated small-corpus dedup queries. Frames that aren't
    file-backed (or whose files this process can't stat, e.g. object
    stores) fall back to the exact RDD probe.
    """
    import os
    from urllib.parse import unquote, urlparse

    target = df.sparkSession.sparkContext.defaultParallelism
    split_bytes = _max_partition_bytes(df.sparkSession)
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        est = 0
        for uri in files:
            path = unquote(urlparse(uri).path) or uri
            try:
                size = os.path.getsize(path)
            except OSError:
                est = None  # non-local source: stat failed, use exact probe
                break
            est += max(1, -(-size // split_bytes))
            if est >= target:
                return df
        if est is not None:
            return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def h28(col: Column) -> Column:
    """28-bit deterministic hash: first 7 hex digits of md5, as BIGINT.
    Oracle twin: ``CAST('0x' || substr(md5(x), 1, 7) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def h60(col: Column) -> Column:
    """60-bit deterministic hash (15 hex digits of md5) for SimHash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_fingerprint(col: Column | str) -> Column:
    """Exact-dedup key: md5 of the whitespace-normalized, lowercased text
    (delegates to functions.scalar.normalized_fingerprint — one
    definition of the fingerprint contract)."""
    from is3107datapipelineproject_spark.functions.scalar import normalized_fingerprint

    return normalized_fingerprint(col)


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group documents by content fingerprint: one row per distinct
    content with ``(fingerprint, keeper_id, n_copies)`` where keeper is
    the smallest id (deterministic survivor). One hash-aggregate — the
    100 TB plan is a single shuffle on the fingerprint."""
    return (
        df.select(F.col(id_col), exact_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles over normalized whitespace tokens.
    Documents shorter than k tokens yield one truncated shingle (the
    whole text) so nothing silently disappears.

    Shape: ``zip_with`` over k SHIFTED SLICES of the token array — the
    same shifted-view trick text.py's bigram operators use — so no
    per-shingle ``slice`` array is allocated inside an interpreted
    higher-order function (measured on sf0.1 documents: 1.45 s JVM CPU
    for the shingle projection, against 5.7 s for the
    ``transform(sequence(1,n), i -> concat_ws(slice(toks, i, k)))``
    shape). In the truncation cases ``zip_with`` pads the shorter
    shifted slices with NULL and ``concat_ws`` skips NULLs, giving the
    truncated shingle; NULL text yields ``[""]`` via the explicit guard
    (edge cases pinned by tests/test_llm_operators.py)."""
    toks = ws_tokens(col)
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    out = F.slice(toks, 1, n)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, 1 + j, n), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.when(toks.isNull(), F.array(F.lit(""))).otherwise(out)


def shingle_hash_set(col: Column | str, k: int = 3) -> Column:
    """Distinct 28-bit hash set of the k-word shingles — the MinHash /
    Jaccard input. Narrow (no shuffle)."""
    return F.array_distinct(F.transform(word_shingles(col, k), h28))


def minhash_signature_cols(hashes_col: str = "shingles") -> list[Column]:
    """K minhash columns ``mh0..mh{K-1}``: mh_j = min_h (a_j*h + b_j) % P.
    Pure array lambdas over the per-row hash set — no explode, no
    shuffle, whole-stage-codegen friendly."""
    def perm(a: int, b: int):
        # one-arg closure (a defaulted second lambda arg would be read by
        # pyspark as the element-index parameter)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    return [
        F.array_min(F.transform(F.col(hashes_col), perm(a, b))).alias(f"mh{j}")
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def lsh_band_keys() -> list[Column]:
    """LSH band signatures: band_b = 'b:' || mh(4b) || '-' || … || mh(4b+3).
    Docs agreeing on ANY band become candidate pairs."""
    out = []
    for band in range(LSH_BANDS):
        parts = [F.col(f"mh{band * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        out.append(F.concat_ws("-", F.lit(str(band)), *parts).alias(f"band{band}"))
    return out


def minhash_doc_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """The per-document signature frame every MinHash-tier consumer
    derives from: ``(doc_id, shingles, mh0..mh{K-1})`` — the CPU-bound
    tokenize → shingle-hash → K-permutation stage, computed narrowly
    (no shuffle) over a spread input. Chained queries that run several
    MinHash tiers over the SAME documents (one-shot pairs + incremental
    new×old + batch-local pairs in incremental_neardup_clusters; full
    pairs + affected-cluster re-derivation in the retraction path)
    compute this ONCE, localCheckpoint it, and pass filtered views via
    the tiers' ``sig_frame`` parameters. Values are a pure row-wise
    function of the text, so a filtered view of a shared frame is
    bit-identical to computing the stage on the filtered input.

    The shingle length ``k`` rides as metadata on the ``shingles``
    column (key :data:`SHINGLE_K_KEY`), so a tier handed the frame can
    reject one built with a different ``k`` without adding a column."""
    return spread_small_input(df).select(
        F.col(id_col).alias("doc_id"),
        shingle_hash_set(text_col, k).alias("shingles", metadata={SHINGLE_K_KEY: k}),
    ).select("doc_id", "shingles", *minhash_signature_cols("shingles"))


def _check_sig_frame(sig_frame: DataFrame, k: int) -> None:
    """The one entry check of a precomputed signature frame: it must be
    a :func:`minhash_doc_signatures` frame (``doc_id``, ``shingles``,
    ``mh0..mh{K-1}``) built with the caller's ``k`` — a frame of other
    shingles would bucket and verify the wrong sets without error."""
    need = ["doc_id", "shingles", *[f"mh{j}" for j in range(MINHASH_K)]]
    missing = [c for c in need if c not in sig_frame.columns]
    if missing:
        raise ValueError(
            f"sig_frame lacks columns {missing} — pass a minhash_doc_signatures frame"
        )
    built = sig_frame.schema["shingles"].metadata.get(SHINGLE_K_KEY)
    if built != k:
        raise ValueError(
            f"sig_frame was built with k={built}, but this call uses k={k} — "
            "build it with minhash_doc_signatures(..., k=k)"
        )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1024,
    sig_frame: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate detection, end to end: the band table
    of :func:`band_signature_frame` (with the packed ``sig``) fed to
    :func:`pairs_from_band_table`.

    1. narrow: shingle-hash set + K minhashes + band keys per doc;
    2. shuffle: the 4 band keys grouped by band, carrying (doc_id,
       shingle set, sig) into each sorted bucket;
    3. bucket-local: a combination generator emits candidate pairs WITH
       their exact Jaccard — no join back to the corpus, so the
       expensive tokenize/hash stage never recomputes;
    4. filter ≥ threshold, distinct across bands.

    Returns ``(doc1, doc2, jaccard)`` with doc1 < doc2, jaccard rounded
    to 4 decimals (cross-engine fp determinism).

    Hot-band handling (a boilerplate-heavy crawl produces bands whose
    quadratic expansion must be bounded): buckets larger than
    ``max_bucket`` go through a second, finer banding pass — 6
    sub-bands × 2 rows drawn from the 12 minhashes OUTSIDE the hot band
    (the 4 inside it are constant across the bucket). A 2-row band
    collides with probability s² vs the first pass's s⁴, so recall for
    true near-dups inside the bucket strictly improves while chance
    collisions split. Sub-buckets still larger than ``max_bucket`` are
    near-identical boilerplate; they degrade to a STAR (every member
    paired with the min-id member): O(n) pairs that keep the cluster
    connected for neardup_clusters/dedup_corpus — bounded work, never a
    silent recall cliff.

    ``sig_frame``: a precomputed :func:`minhash_doc_signatures` frame
    for EXACTLY the rows of ``df``, built with the same ``k`` (checked)
    — chained multi-tier queries pass filtered views of one shared
    frame so the signature stage runs once.
    """
    return pairs_from_band_table(
        band_signature_frame(df, text_col, id_col, k, with_sig=True, sig_frame=sig_frame),
        threshold=threshold,
        max_bucket=max_bucket,
    )


def _jaccard(x: Column, y: Column) -> Column:
    """Exact set Jaccard of two distinct-element arrays, rounded to 4
    decimals — the verify expression of every Jaccard tier."""
    inter = F.size(F.array_intersect(x, y)).cast("double")
    union = (F.size(x) + F.size(y)).cast("double") - inter
    return F.round(inter / union, 4)


def _jaccard_pair(x: Column, y: Column) -> Column:
    """MinHash bucket items ``(doc_id, shingles, …)`` → ``(doc1, doc2,
    jaccard)`` on the carried shingle sets."""
    return F.struct(
        x["doc_id"].alias("doc1"),
        y["doc_id"].alias("doc2"),
        _jaccard(x["shingles"], y["shingles"]).alias("jaccard"),
    )


def _hamming_pair(x: Column, y: Column) -> Column:
    """SimHash bucket items ``(doc_id, sh)`` → ``(doc1, doc2, hamming)``."""
    return F.struct(
        x["doc_id"].alias("doc1"),
        y["doc_id"].alias("doc2"),
        F.bit_count(x["sh"].bitwiseXOR(y["sh"])).alias("hamming"),
    )


def _banded_pairs(
    banded: DataFrame,
    pair,
    keep: Column,
    max_bucket: int,
    sep: str,
    subbands=None,
) -> DataFrame:
    """The one banded-bucket body of the MinHash and SimHash tiers.

    ``banded`` holds one row per (item, band key): ``(*fields, band)``,
    the band key leading with the band index and ``sep``. ``pair(x, y)``
    maps two bucket items to the ``(doc1, doc2, metric)`` struct and
    ``keep`` is the metric's threshold predicate. Buckets of at most
    ``max_bucket`` items emit all pairs. Hotter buckets are re-banded by
    ``subbands(hot_rows)`` — the family's finer key over the bits
    outside the hot band; ``hot_rows`` = ``(band0, b0, *fields)`` with
    ``b0`` the hot band's index, result = ``(*sub_fields, band)`` — and
    sub-buckets still over ``max_bucket`` emit the min-id star. With
    ``subbands=None`` hot buckets go straight to the star.

    The bucket frames are materialized (eager localCheckpoint): each
    feeds the hot-bucket probe and up to two pair generators, and
    exchange reuse does not dedupe union branches, so the CPU-bound
    signature stage would otherwise re-run per branch. The probe is one
    cheap job on the materialized buckets; with no hot bucket (the
    common case) the second-pass chains are never planned."""
    buckets = _band_buckets(banded)
    small = buckets.filter(F.size("items") <= max_bucket)
    hot = buckets.filter(F.size("items") > max_bucket)
    if hot.limit(1).count() == 0:
        return _bucket_pairs(small, pair).filter(keep).distinct()
    if subbands is None:
        pairs = _bucket_pairs(small, pair).unionByName(_bucket_pairs(hot, pair, star=True))
        return pairs.filter(keep).distinct()
    fields = [c for c in banded.columns if c != "band"]
    hot_rows = hot.select(
        F.col("band").alias("band0"),
        F.element_at(F.split("band", sep), 1).cast("int").alias("b0"),
        F.explode("items").alias("it"),
    ).select("band0", "b0", *[F.col(f"it.{c}").alias(c) for c in fields])
    sub = _band_buckets(subbands(hot_rows))
    pairs = (
        _bucket_pairs(small, pair)
        .unionByName(_bucket_pairs(sub.filter(F.size("items") <= max_bucket), pair))
        .unionByName(_bucket_pairs(sub.filter(F.size("items") > max_bucket), pair, star=True))
    )
    return pairs.filter(keep).distinct()


def _band_buckets(rows: DataFrame) -> DataFrame:
    """``(*fields, band)`` → ``(band, items)``: each band's members as a
    sorted array of ``struct(*fields)`` (so ``items[1]`` is the min id),
    singleton buckets dropped, materialized eagerly."""
    fields = [c for c in rows.columns if c != "band"]
    return (
        rows.groupBy("band")
        .agg(F.array_sort(F.collect_list(F.struct(*fields))).alias("items"))
        .filter(F.size("items") > 1)
        .localCheckpoint(eager=True)  # eager: first read is the hot-bucket limit probe
    )


def _bucket_pairs(bucketed: DataFrame, pair, star: bool = False) -> DataFrame:
    """Pair generator over a bucketed frame's sorted ``items``: the C(n,2)
    combinations (``posexplode(items)`` then ``explode(slice(items,
    i+2, …))``), or with ``star=True`` every member paired with the
    min-id member — O(n) pairs that keep the bucket connected. Both are
    codegen ``Generate`` operators with ``pair`` as a projection above
    them, so the quadratic stays confined to the bucket and the verify
    runs in whole-stage codegen."""
    if star:
        xy = bucketed.select(
            F.element_at("items", 1).alias("_x"),
            F.explode(F.slice("items", 2, F.size("items") - 1)).alias("_y"),
        )
    else:
        xy = bucketed.select("items", F.posexplode("items").alias("_i", "_x")).select(
            "_x",
            F.explode(
                F.slice(
                    "items",
                    F.col("_i") + 2,
                    F.greatest(F.size("items") - F.col("_i") - 1, F.lit(0)),
                )
            ).alias("_y"),
        )
    return xy.select(pair(F.col("_x"), F.col("_y")).alias("p")).select("p.*")


def _minhash_subbands(hot_rows: DataFrame) -> DataFrame:
    """MinHash second-pass keys for :func:`_banded_pairs`: 6 sub-bands ×
    2 rows over the 12 minhashes outside the hot band, from the packed
    ``sig`` the items carry. A ``sig`` column that may hold NULLs (a band
    table whose legacy 3-column batches read as sig=NULL) is probed
    first: concat_ws would collapse every null-sig doc into one
    degenerate sub-band key and silently drop cross-era pairs, so that
    case fails loudly with the migration path (bounded: the probe scans
    hot rows only, and a ``sig`` Spark knows to be non-null skips it)."""
    if hot_rows.schema["sig"].nullable and (
        hot_rows.filter(F.col("sig").isNull()).limit(1).count() > 0
    ):
        raise ValueError(
            "pairs_from_band_table: a hot band contains rows with NULL sig "
            "(legacy 3-column batches mixed with with_sig batches) — the "
            "sub-banding second pass cannot split them and would silently "
            "drop cross-era pairs. Rebuild or compact the band table to a "
            "uniform schema first (re-run band_signature_frame with_sig=True "
            "over the corpus), or drop the sig column to take the star tier."
        )
    indexed = F.transform("sig", lambda mh, i: F.struct(mh.alias("mh"), i.alias("idx")))
    others = F.filter(
        indexed,
        lambda s: (s["idx"] < F.col("b0") * LSH_ROWS)
        | (s["idx"] >= (F.col("b0") + 1) * LSH_ROWS),
    )
    rows = hot_rows.select("band0", "doc_id", "shingles", others.alias("rest"))
    sub_keys = F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_K - LSH_ROWS - 2), F.lit(2)),
        lambda i: F.concat_ws(
            ":",
            F.col("band0"),
            i,
            F.element_at("rest", i + 1)["mh"],
            F.element_at("rest", i + 2)["mh"],
        ),
    )
    return rows.select("doc_id", "shingles", F.explode(sub_keys).alias("band"))


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash signature per document over the distinct whitespace-token
    hash set: bit b is set iff strictly more than half the token hashes
    have bit b set. Returns ``(doc_id, simhash)``.

    Single pass over the hashes: one ``aggregate`` fold accumulates the
    per-bit ones-counts as a 60-wide long array (zip_with add), then a
    static majority-vote fold builds the signature from the counts. All
    narrow, one projection boundary between the two stages so the counts
    array is computed exactly once per row."""
    hs = F.array_distinct(F.transform(ws_tokens(text_col), h60))
    t = spread_small_input(df).select(F.col(id_col).alias("doc_id"), hs.alias("hs"))

    def bitvec(h: Column) -> Column:
        return F.array(
            *[F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("long") for b in range(bits)]
        )

    counts = F.aggregate(
        "hs",
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(acc, bitvec(h), lambda x, y: x + y),
    )
    t = t.select("doc_id", F.size("hs").alias("n"), counts.alias("counts"))
    sig = reduce(
        add,
        [
            F.when(F.element_at("counts", b + 1) * 2 > F.col("n"), F.lit(1 << b)).otherwise(
                F.lit(0)
            )
            for b in range(bits)
        ],
    )
    return t.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``
    (≤ 3, else ``ValueError``: with 4 bands the pigeonhole is exact only
    then — 3 flipped bits cannot touch all 4 bands, hence every
    qualifying pair shares at least one exact 15-bit band key, and
    candidate generation is bucket-local, never n² over the corpus).

    Returns ``(doc1, doc2, hamming)``, doc1 < doc2.

    Hot-band handling (the banded-bucket body shared with
    ``minhash_neardup_pairs``): buckets larger than ``max_bucket`` go
    through a second banding pass that is STILL exact — within a hot
    band the 45 out-of-band bits are split into 4 sub-bands
    (12+11+11+11), and ≤3 flipped bits cannot touch all 4 sub-bands, so
    every qualifying pair in the hot bucket shares an exact sub-band key.
    Sub-buckets still larger than ``max_bucket`` are near-identical
    boilerplate (same 15+11 bits of the fingerprint); they degrade to a
    STAR (every member paired with the min-id member): O(n) pairs that
    keep the cluster connected instead of O(n²) enumeration — bounded
    work, documented recall fallback, never a silent drop.
    """
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError("band pigeonhole requires max_hamming < n_bands")
    width = SIMHASH_BITS // SIMHASH_BANDS
    sig = simhash_signatures(df, text_col, id_col).withColumnRenamed("simhash", "sh")
    bands = sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        (F.shiftright(F.col("sh"), i * width) % F.lit(1 << width)).cast("string"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    )
    return _banded_pairs(
        bands, _hamming_pair, F.col("hamming") <= max_hamming, max_bucket, ":", _simhash_subbands
    )


def _simhash_subbands(hot_rows: DataFrame) -> DataFrame:
    """SimHash second-pass keys for :func:`_banded_pairs`: rest = sh with
    the hot band's 15 bits excised (low bits | high bits shifted down),
    a 45-bit value computed with static shifts per possible band index
    and selected by ``b0``, split into sub-bands of 12+11+11+11 bits —
    ≤3 flips leave one untouched."""
    width = SIMHASH_BITS // SIMHASH_BANDS

    def rest_for(i: int) -> Column:
        low = F.col("sh") % F.lit(1 << (i * width)) if i > 0 else F.lit(0).cast("long")
        high = F.shiftright(F.col("sh"), (i + 1) * width) * F.lit(1 << (i * width))
        return low + high

    rest = F.when(F.col("b0") == 0, rest_for(0))
    for i in range(1, SIMHASH_BANDS):
        rest = rest.when(F.col("b0") == i, rest_for(i))
    rows = hot_rows.select("band0", "doc_id", "sh", rest.alias("rest"))
    sub_widths = (12, 11, 11, 11)
    sub_offsets = (0, 12, 23, 34)
    sub_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.col("band0"),
                F.lit(str(j)),
                (F.shiftright(F.col("rest"), sub_offsets[j]) % F.lit(1 << sub_widths[j])).cast(
                    "string"
                ),
            )
            for j in range(4)
        ]
    )
    return rows.select("doc_id", "sh", F.explode(sub_keys).alias("band"))


def neardup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    gets ``cluster_id`` = the minimum doc id reachable through near-dup
    edges (singletons cluster as themselves). THE answer shape for
    copy-heavy corpora, where materializing all intra-cluster pairs is
    quadratic but the cluster map is linear.

    Iterative min-label propagation (hash-min): each round every node
    takes the min of its own label and its neighbors' labels; converges
    in O(component diameter) rounds — near-dup clusters are shallow, so
    a handful. This is the engine's one driver-side loop, and it is the
    textbook legitimate case (fixpoint iteration); each round is a
    shuffle-bounded join + aggregate, lineage cut with localCheckpoint
    so plans don't grow unboundedly.
    """
    edges = pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    # Materialize the (symmetrized) edge list ONCE — every propagation
    # round joins against it, and without the checkpoint each round
    # would re-run the whole upstream pair-detection pipeline.
    both = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    labels = nodes.select(F.col(id_col).alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for _ in range(max_iters):
        neigh = (
            both.join(labels, both.src == labels.id, "inner")
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        # One checkpointed frame carries both the new label and the
        # did-it-move flag, so convergence detection is a cheap count on
        # materialized data instead of a second join per round.
        new_labels = (
            labels.join(neigh, labels.id == neigh.dst, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.coalesce("nlabel", "label") < F.col("label")).alias("moved"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("moved").count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    else:
        # Ran out of iterations with labels still moving: the returned
        # clusters would be silently WRONG (one true cluster split into
        # several), and dedup_corpus would keep multiple survivors.
        # Surface it — callers can retry with a larger max_iters.
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iters} iterations "
            f"({changed} labels still moving); a component's diameter "
            "exceeds max_iters — raise max_iters"
        )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def incremental_cluster_update(
    old_labels: DataFrame,
    new_nodes: DataFrame,
    new_edges: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
    delta_only: bool = False,
) -> DataFrame:
    """Incremental connected-components maintenance over the near-dup
    graph: fold an arriving batch (its node ids, plus every new edge the
    incremental dedup tiers produced — new×old and new×new) into an
    existing :func:`neardup_clusters` label table WITHOUT re-running the
    corpus-wide fixpoint. The result is identical to the one-shot
    ``neardup_clusters`` over corpus ∪ batch (asserted in tests; the
    registered query's oracle replays the full recursive closure).

    Correctness by cluster CONTRACTION: an existing cluster is maximal
    under the old edge set, and new edges only ADD connectivity, so each
    old cluster contracts to a single supernode named by its label
    (labels are min-reachable ids, i.e. the cluster's min member id).
    The updated component structure is then the component structure of
    the contracted graph, whose nodes are the batch ids plus only the
    TOUCHED old-cluster labels — a graph bounded by the batch's edge
    neighborhood, never by the corpus. Hash-min CC over that tiny graph
    yields per-supernode roots = min over each component of
    {touched old labels} ∪ {batch ids} — exactly the one-shot
    min-reachable id, because an untouched cluster's members cannot gain
    new reachability.

    Scale shape: the corpus-sized label table is touched by exactly two
    BROADCAST hash joins (endpoint→supernode resolution, restricted to
    the edge endpoints, and the final relabel keyed on the touched
    cluster labels) — the corpus never shuffles, and the fixpoint
    iteration runs on a frame bounded by |batch| + |touched clusters|.
    Recomputing one-shot instead would cost O(diameter) corpus-wide
    shuffle rounds per ingest.

    ``delta_only=True`` returns only the rows an upsert sink must write:
    every batch id plus the old rows whose label actually changed (the
    contract streaming/windows.py::cluster_ingest_sink persists per
    micro-batch).

    Returns ``(id_col, cluster_id)`` for corpus ∪ batch (or the delta).
    Assumes corpus and batch ids are disjoint (they are documents ids).
    """
    e = new_edges.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
    labels = old_labels.select(
        F.col(id_col).alias("id"), F.col("cluster_id").alias("label")
    )
    ends = (
        e.select(F.col("a").alias("eid"))
        .unionByName(e.select(F.col("b").alias("eid")))
        .distinct()
    )
    # endpoint → supernode: old endpoints contract to their cluster
    # label; batch endpoints (no label row) stay their own supernode.
    # The tiny endpoint set broadcasts, the label table streams map-side.
    sup = (
        labels.join(F.broadcast(ends), labels.id == F.col("eid"), "inner")
        .select(F.col("eid"), F.col("label").alias("sup"))
        .localCheckpoint(eager=False)
    )
    se = (
        e.join(F.broadcast(sup.select(F.col("eid").alias("a"), F.col("sup").alias("sup_a"))), "a", "left")
        .join(F.broadcast(sup.select(F.col("eid").alias("b"), F.col("sup").alias("sup_b"))), "b", "left")
        .select(
            F.coalesce("sup_a", F.col("a")).alias("doc1"),
            F.coalesce("sup_b", F.col("b")).alias("doc2"),
        )
        .filter(F.col("doc1") != F.col("doc2"))
        .distinct()
    )
    batch_ids = new_nodes.select(F.col(id_col).alias("id")).distinct()
    sup_nodes = (
        batch_ids.unionByName(se.select(F.col("doc1").alias("id")))
        .unionByName(se.select(F.col("doc2").alias("id")))
        .distinct()
    )
    # the contracted graph is ingest-sized: reuse the one-shot fixpoint.
    roots = neardup_clusters(sup_nodes, se, "id", max_iters=max_iters)
    # touched old clusters whose root moved (possibly DOWN to a batch id
    # smaller than every old member — labels can decrease on merge).
    relabel = roots.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("old_label"), F.col("cluster_id").alias("root")
    )
    join_mode = "inner" if delta_only else "left"
    updated_old = (
        old_labels.select(id_col, "cluster_id")
        .join(F.broadcast(relabel), F.col("cluster_id") == F.col("old_label"), join_mode)
        .select(
            F.col(id_col),
            F.coalesce("root", F.col("cluster_id")).alias("cluster_id"),
        )
    )
    new_rows = batch_ids.join(
        F.broadcast(roots.withColumnRenamed("cluster_id", "root")), "id", "inner"
    ).select(F.col("id").alias(id_col), F.col("root").alias("cluster_id"))
    return updated_old.unionByName(new_rows)


def retract_from_cluster_state(
    docs: DataFrame,
    old_labels: DataFrame,
    deleted: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_iters: int = 20,
    pairs_fn=None,
    sig_frame: DataFrame | None = None,
) -> DataFrame:
    """Deletion-aware cluster maintenance — the other half of the
    incremental story. :func:`incremental_cluster_update` handles ingest
    by contraction because connectivity only GROWS; a deletion breaks
    that monotonicity (removing a bridge doc can SPLIT its cluster, and
    removing the min-id member orphans the label), so retraction
    rebuilds — but only WITHIN the affected clusters, never corpus-wide.
    The governance driver is real: a right-to-be-forgotten purge must
    leave the dedup state as if the docs never existed, or future
    keep-list decisions are made against phantom connectivity.

    Steps: (1) affected clusters = labels of the deleted ids (broadcast
    inner join — the deletion set is governance-batch-sized);
    (2) surviving members of those clusters come from one broadcast
    semi/anti join against the label table; (3) their near-dup pairs are
    RE-DERIVED among themselves only and the one-shot fixpoint runs on
    that bounded subgraph; (4) untouched clusters pass through
    bit-identical (broadcast anti join). The restriction in (3) is
    lossless because old_labels is the closure of the SAME pair
    semantics: a qualifying pair crossing two old clusters would
    contradict their maximality — so deletions cannot create new
    inter-cluster edges, only remove paths. (Invariant: pass the same
    text_col/k/threshold the labels were built with.)

    Scale shape: corpus label table and docs table are each touched by
    one broadcast-keyed join; re-derivation and fixpoint are bounded by
    the affected-cluster mass. Hot boilerplate clusters inherit
    minhash_neardup_pairs' bounded-work guards on the default text
    re-derivation, and :func:`pairs_from_band_table` applies the same
    sub-band + star tiers on the persisted-band-table path
    (cluster_purge_state) — a custom ``pairs_fn`` is responsible for
    its own bounds. A deletion burst whose affected mass approaches
    the corpus should take the one-shot rebuild instead — the
    broadcast of the affected-member set is the deliberate pressure
    valve that fails loudly rather than silently degrading.

    ``pairs_fn`` (DataFrame of surviving affected docs → (doc1, doc2)
    pairs) overrides the default MinHash re-derivation — the seam the
    planted-fixture tests inject exact edge lists through, and how a
    different tier's labels (edit-distance, semantic) would retract.

    ``sig_frame``: a precomputed :func:`minhash_doc_signatures` frame
    for ``docs`` (the WHOLE corpus, same text/k) — the re-derivation in
    step (3) then reuses it (restricted to the affected members by the
    same semi-join as ``aff_docs``) instead of re-hashing the affected
    text; callers that already built corpus-wide pairs from the same
    frame share one signature pass across both stages.

    Returns ``(id_col, cluster_id)`` over corpus MINUS deleted —
    identical to the one-shot over the surviving corpus (asserted in
    tests; the registered query's oracle replays the full closure over
    the filtered table).
    """
    dset = deleted.select(F.col(id_col).alias("did")).distinct()
    lab = old_labels.select(F.col(id_col).alias("id"), "cluster_id")
    # eager: cluster_purge_state rewrites the label state these read
    affected = (
        lab.join(F.broadcast(dset), lab.id == F.col("did"), "inner")
        .select(F.col("cluster_id").alias("acid"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    aff_members = (
        lab.join(F.broadcast(affected), lab.cluster_id == F.col("acid"), "inner")
        .join(F.broadcast(dset), lab.id == F.col("did"), "left_anti")
        .select(F.col("id").alias(id_col))
        .localCheckpoint(eager=True)
    )
    aff_docs = docs.join(F.broadcast(aff_members), id_col, "left_semi")
    if pairs_fn is None:
        aff_sigs = (
            sig_frame.join(
                F.broadcast(aff_members.withColumnRenamed(id_col, "doc_id")),
                "doc_id",
                "left_semi",
            )
            if sig_frame is not None
            else None
        )
        pairs = minhash_neardup_pairs(
            aff_docs, text_col, id_col, k=k, threshold=threshold, sig_frame=aff_sigs
        )
    else:
        pairs = pairs_fn(aff_docs)
    rebuilt = neardup_clusters(
        aff_docs.select(id_col), pairs.select("doc1", "doc2"), id_col, max_iters=max_iters
    )
    untouched = lab.join(
        F.broadcast(affected), lab.cluster_id == F.col("acid"), "left_anti"
    ).select(F.col("id").alias(id_col), "cluster_id")
    return untouched.unionByName(rebuilt)


def dedup_corpus(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    score_col: str | None = None,
) -> DataFrame:
    """THE end-user dedup operation: return the corpus with near-
    duplicates removed — one survivor per connected near-dup cluster,
    singletons untouched. Exact copies are subsumed (Jaccard 1 ≥
    threshold).

    Survivor policy: min-id by default; with ``score_col`` the HIGHEST-
    scoring member of each cluster survives (ties break on min id) —
    the policy a curation pipeline actually wants, since the min-id
    copy of a boilerplate cluster is rarely its best copy.

    Composition: minhash_neardup_pairs → neardup_clusters → keeper
    selection → left-semi join back. Keeper selection is a filter
    (min-id: label == id) or a per-cluster top-1 window whose rank
    filter pushes pre-shuffle (WindowGroupLimit), so output and
    intermediate state stay O(corpus), never O(pairs)."""
    pairs = minhash_neardup_pairs(docs, text_col, id_col, threshold=threshold)
    clusters = neardup_clusters(docs, pairs, id_col)
    if score_col is None:
        keepers = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    else:
        from pyspark.sql import Window

        scored = clusters.join(docs.select(id_col, score_col), id_col)
        w = Window.partitionBy("cluster_id").orderBy(
            F.col(score_col).desc(), F.col(id_col).asc()
        )
        keepers = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(id_col)
        )
    return docs.join(keepers, id_col, "left_semi")


def blocked_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    max_prefix_posting: int = 10_000,
    durable: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard between all doc pairs sharing a blocking
    key (source, domain, near-dup cluster …) — via PPJoin prefix
    filtering WITHIN the block, never a raw within-block self-join.

    Why not join on the block key alone: blocks grow linearly with the
    corpus, so a raw block self-join is quadratic in corpus size inside
    every block — at ×100 each block's pair count grows ×10⁴. Instead
    this is :func:`prefix_jaccard_pairs`' lossless candidate machinery
    with the block as a group key: tokens are ordered per-block by
    (block df ASC, token), each doc keeps only its ``m − ⌈τ·m⌉ + 1``
    rarest tokens (the prefix — a pair with J ≥ τ provably shares a
    prefix token), and candidates come from an equi-join on the
    COMPOSITE key ``(block, token)`` with the lossless size filter
    (τ·|x| ≤ |y| ≤ |x|/τ) and PPJoin positional filter applied in the
    join condition. Both docs of any within-block pair see the same
    per-block token order, so the prefix bound holds exactly as in the
    global operator. Exact array_intersect verification after; filters
    are built against τ−1e-4 so a pair that ROUNDS UP to τ is never
    pruned (repo round-then-threshold contract).

    Scale shape: the join key is (block, rare-token), so posting lists
    are short by construction — within-block cost is Σ posting², not
    Σ block², and grows ~linearly with the corpus. The degenerate case
    (a block of near-identical docs: every token equally common, every
    posting the block size) trips ``max_prefix_posting`` and raises
    toward exact-dedup-first — the same count-guard contract as
    prefix_jaccard_pairs / cosine_topk, never a silent quadratic.

    A doc_id listed under SEVERAL blocks (a doc-per-cluster blocking
    frame) is supported exactly as in the raw-join formulation: each
    (doc, block) membership row builds its own prefix over its own
    token set, pairs are generated and verified per shared block, and a
    pair sharing two blocks returns one row per block — never a
    cross-membership mixture.

    The reused intermediates (the token sets and the prefix postings)
    are materialized once: by default a lazy ``localCheckpoint``, which
    is lineage-free, so on a real cluster an executor lost mid-query
    fails the job instead of recomputing its blocks. ``durable=True``
    keeps them with ``persist(DISK_ONLY)`` instead: blocks on executor
    disk WITH lineage, so a lost executor recomputes its partitions; the
    sf0.1 cost is near zero (SCALING part 23). Values are identical
    either way (tests/test_blocked_join_boundaries.py runs the τ battery
    through both). Long-lived sessions calling ``durable=True`` in a
    loop should clear them with ``spark.catalog.clearCache()`` between
    calls; they also age out under the LRU store.

    Returns ``(doc1, doc2, jaccard)`` with jaccard ≥ threshold, rounded
    to 4 decimals, doc1 < doc2, pairs within a block only.
    """
    return _ppjoin_self_join(
        _token_sets(df, text_col, id_col, block_col),
        threshold,
        max_prefix_posting,
        durable,
        ("block",),
        "blocked_jaccard_pairs",
    )


def incremental_blocked_jaccard(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    max_prefix_posting: int = 10_000,
) -> DataFrame:
    """EXACT incremental BLOCKED near-dup: every (new, old) pair sharing
    a blocking key with true token-set Jaccard ≥ τ between an arriving
    batch and the existing corpus — the incremental tier of
    :func:`blocked_jaccard_pairs`, completing the blocked family's
    one-shot + batch-incremental symmetry every other dedup tier has
    (minhash / prefix / edit / semantic).

    Same machinery as :func:`incremental_prefix_jaccard` with the block
    folded into the candidate equi-join key: postings are built per doc
    under the corpus's per-block (df ASC, token) order (both sides under
    the SAME snapshot in this run, so the prefix bound holds), the
    candidate join runs on the composite ``(block, token)`` key — a
    struct, so :func:`_prefix_candidates_verify`'s broadcast join and
    lossless size/positional prunes apply unchanged — and candidates are
    verified with exact array_intersect Jaccard, rounded to 4 dp before
    the ≥ τ test. New×old only, never old×old; the batch's postings
    broadcast onto the corpus posting stream, so the corpus never
    shuffles (per-ingest cost = batch encode + one map-side join +
    verify of survivors). ``max_prefix_posting`` guards the
    duplicate-saturated block exactly as in the one-shot operator.

    Contract: ``block_col`` is an ATTRIBUTE of the document — one block
    per doc row (the ingest-batch shape). The one-shot
    :func:`blocked_jaccard_pairs` additionally supports doc-per-cluster
    multi-membership frames; here the shared verify joins sets by doc
    id, so a multi-block doc would fan out — the contract is ENFORCED
    loudly (one row per doc_id on each side, checked on the already-
    checkpointed prepped frames) rather than left to the docstring:
    a violating frame would otherwise silently emit duplicate /
    cross-membership jaccard rows. Pre-split multi-block frames per
    block before calling.

    Returns ``(new_id, old_id, jaccard)``, jaccard ≥ τ rounded 4 dp.
    """
    return _ppjoin_incremental(
        old, new, text_col, id_col, threshold, max_prefix_posting, block_col,
        shingles=False, what="incremental_blocked_jaccard",
    )


def _assert_posting_cap(
    postings: DataFrame, group_cols: tuple[str, ...], cap: int, what: str
) -> None:
    """Loud guard shared by every exact prefix-filter tier: the largest
    prefix posting list (one list per ``group_cols`` value) may hold at
    most ``cap`` entries. A duplicate-saturated input would otherwise
    turn the candidate join quadratic in that list. One bounded
    aggregate over the (already materialized) postings."""
    hottest = (
        postings.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("p")).agg(F.max("p")).first()[0]
    )
    if hottest is not None and hottest > cap:
        raise ValueError(
            f"{what}: a ({', '.join(group_cols)}) prefix posting list of size "
            f"{hottest} exceeds max_prefix_posting={cap} — the input is "
            "duplicate-saturated; run exact_dedup first, then rerun on the keepers"
        )


def _assert_one_row_per_doc(t: DataFrame, what: str) -> None:
    """Loud guard for the one-block-per-doc contract shared by the
    incremental blocked tier and its streaming sink: their exact-verify
    joins sets on ``doc_id`` alone, so a doc listed under several
    blocks (or a doc_id re-ingested across batches) would FAN OUT the
    verify and emit duplicate / cross-membership jaccard rows instead
    of erroring. One bounded aggregate over the (already checkpointed)
    prepped frame — the no-silent-cliff convention every dedup tier's
    guards follow."""
    dup = (
        t.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{what}: doc_id {dup[0]['doc_id']!r} appears {dup[0]['c']} times — "
            "the blocked incremental tier requires ONE row (one block) per "
            "doc_id; pre-split multi-block frames per block, or dedup ids, "
            "before calling"
        )


def blocked_posting_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """``(sets, postings)`` for the BLOCKED tier under the FIXED
    token-value order — the persistable form a streaming ingest stores
    per document (the blocked sibling of :func:`prefix_posting_frame`
    with ``dfreq=None``): ``sets`` = ``(doc_id, block, toks)``,
    ``postings`` = ``(doc_id, block, tok, pos, m)`` with only each
    doc's first ``m − ⌈τ·m⌉ + 1`` tokens. The fixed order never drifts
    as the corpus grows, so postings persisted at any past ingest stay
    jointly lossless against every future batch (a per-block df order
    would silently invalidate the prefix bound once block frequencies
    shift); the price is longer posting lists, never recall. Same
    one-block-per-doc contract as :func:`incremental_blocked_jaccard`."""
    sets = _token_sets(df, text_col, id_col, block_col)
    return sets, postings_from_sets(sets, threshold - 1e-4, group_cols=("block",))


def incremental_neardup(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    old_sig_frame: DataFrame | None = None,
    new_sig_frame: DataFrame | None = None,
) -> DataFrame:
    """Incremental corpus dedup: near-duplicates BETWEEN an arriving
    batch and the existing corpus — the every-ingest check that keeps a
    growing 100 TB corpus deduplicated without ever re-running old×old.

    Candidate generation is a band-key equi-join of the NEW batch's LSH
    bands against the corpus's. The new side is tiny relative to the
    corpus, so it broadcasts: the corpus-side band/signature frame
    streams through map tasks with NO shuffle of the corpus (and at
    production scale that frame is a persisted signature table
    maintained by each ingest, so the corpus text is not even re-read —
    here it is recomputed narrowly because the testdata has no side
    store). Jaccard is verified exactly on the shingle sets carried
    through the join, then band-duplicate pairs collapse via distinct.

    Returns ``(new_id, old_id, jaccard)``, jaccard ≥ threshold, rounded
    to 4 decimals (cross-engine fp determinism).

    ``old_sig_frame``/``new_sig_frame``: precomputed
    :func:`minhash_doc_signatures` frames for the respective sides (see
    there) — chained queries share one signature pass across tiers.
    """
    ob = band_signature_frame(
        old, text_col, id_col, k, sig_frame=old_sig_frame
    ).toDF("old_id", "old_hs", "band")
    nb = band_signature_frame(
        new, text_col, id_col, k, sig_frame=new_sig_frame
    ).toDF("new_id", "new_hs", "band")
    return incremental_neardup_from_bands(ob, nb, threshold=threshold)


def band_signature_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    with_sig: bool = False,
    sig_frame: DataFrame | None = None,
) -> DataFrame:
    """``(doc_id, hs, band)`` — the exploded LSH band/signature frame,
    the thing a production ingest PERSISTS per document so the corpus
    text is hashed exactly once, at ingest (see neardup_ingest_sink in
    streaming.windows). Signatures come from
    :func:`minhash_doc_signatures`, whose spread_small_input
    parallelizes the CPU-bound signature stage (an under-partitioned
    scan would serialize it on one core — measured 3.7× on the corpus
    side at sf0.1).

    ``with_sig=True`` additionally carries the packed 16-minhash ``sig``
    array (``(doc_id, hs, sig, band)``) — the column
    :func:`pairs_from_band_table`'s hot-band second pass needs to
    sub-band a boilerplate bucket, so state that may later be RETRACTED
    (cluster_ingest_sink's band table) stores it; the default stays the
    3-column shape the pure new×old join paths use.

    ``sig_frame``: a precomputed :func:`minhash_doc_signatures` frame
    for exactly the rows of ``df``, used instead of re-running the
    signature stage in chained multi-tier queries. This is where every
    precomputed signature frame enters the MinHash tiers: one without
    ``doc_id``, ``shingles`` and ``mh0..mh{K-1}``, or built with a
    different ``k``, raises ``ValueError``."""
    if sig_frame is None:
        sig_frame = minhash_doc_signatures(df, text_col, id_col, k)
    else:
        _check_sig_frame(sig_frame, k)
    sig = [F.array(*[F.col(f"mh{j}") for j in range(MINHASH_K)]).alias("sig")]
    return sig_frame.select(
        "doc_id",
        F.col("shingles").alias("hs"),
        *(sig if with_sig else []),
        F.explode(F.array(*lsh_band_keys())).alias("band"),
    )


def incremental_neardup_from_bands(
    old_bands: DataFrame,
    new_bands: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """The join half of ``incremental_neardup``, over pre-built band
    frames (columns ``(old_id, old_hs, band)`` / ``(new_id, new_hs,
    band)``): lets the corpus side come from a PERSISTED signature table
    instead of re-hashing text every ingest."""
    return (
        old_bands.join(F.broadcast(new_bands), "band")
        .select(
            "new_id",
            "old_id",
            _jaccard(F.col("new_hs"), F.col("old_hs")).alias("jaccard"),
        )
        # threshold first: the distinct (the one shuffle of pair rows)
        # then only carries surviving pairs, not every band collision.
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def pairs_from_band_table(
    bands: DataFrame, threshold: float = 0.8, max_bucket: int = 1024
) -> DataFrame:
    """Symmetric within-set MinHash pairs from a band table
    (band_signature_frame's output): bucket the rows by band key, emit
    candidate pairs bucket-locally with their exact Jaccard (verified on
    the carried shingle sets), collapse band duplicates. This is the
    body of :func:`minhash_neardup_pairs` and the re-derivation path for
    state that stores SIGNATURES but not text — cluster_purge_state
    retracts labels from the streaming sink's band table through this
    (the corpus text was hashed once at ingest and never needs
    re-reading).

    Hot-band handling: buckets over ``max_bucket`` take the finer
    second banding pass on the out-of-band minhashes when the table
    carries the packed ``sig`` column (``band_signature_frame(...,
    with_sig=True)`` — what cluster_ingest_sink persists), and residual
    hot sub-buckets degrade to a min-id STAR — O(n) connectivity-
    preserving pairs, never an unbounded self-join. A LEGACY 3-column
    table (no ``sig``) cannot sub-band, so its hot buckets go straight
    to the star tier; either way a boilerplate band costs O(n), which
    is what cluster_purge_state's re-derivation needs to stay bounded
    by the affected-cluster mass. A hot band whose rows carry a NULL
    ``sig`` (legacy batches mixed into a with_sig table) raises
    ``ValueError``. The guard tiers fire on the bucket sizes of the
    frame THIS call sees: a retraction restricted to affected survivors
    sees smaller buckets than the full-corpus build did, so around the
    ``max_bucket`` boundary the star tier may legitimately produce edges
    the build-time star dropped (both are true ≥ threshold pairs); below
    the guard boundary the pair sets are identical."""
    sig = ["sig"] if "sig" in bands.columns else []
    banded = bands.select("doc_id", F.col("hs").alias("shingles"), *sig, "band")
    return _banded_pairs(
        banded,
        _jaccard_pair,
        F.col("jaccard") >= threshold,
        max_bucket,
        "-",
        _minhash_subbands if sig else None,
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.6,
    max_gram_df: int = 64,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection by n-gram containment,
    C(A,B) = |S_A ∩ S_B| / min(|S_A|, |S_B|) — catches the
    quote-and-expand / subset-document relationship that symmetric
    Jaccard misses (a tweet quoted inside an article has tiny Jaccard
    but containment ≈ 1 for the tweet side). Returns
    ``(doc1, doc2, n_shared, containment)`` with doc1 < doc2 and
    containment ≥ ``threshold``, rounded to 4.

    Scale shape: the inverted-index pattern. Distinct k-gram hashes per
    doc explode once; grams with corpus document-frequency >
    ``max_gram_df`` are DROPPED from the universe before pairing (the
    stop-gram cut every positional-index dedup makes — a boilerplate
    gram shared by a million docs contributes pair-candidates
    quadratically and similarity signal not at all). Candidate pairs
    come from the per-gram self-join of the surviving postings — worst
    case O(#grams × max_gram_df²) pair rows, shuffled once on the gram
    and once on the (doc1, doc2) aggregate. Containment denominators
    use the SAME capped universe, so the semantics are exactly
    "containment over grams with df ≤ cap" — replayable by the oracle,
    not a silent approximation.
    """
    # The posting list feeds the df aggregate AND the capped survivor
    # set, and the survivors feed sizes plus BOTH sides of the pair
    # join — exchange reuse does not dedupe those branches, so without
    # materialization the CPU-bound shingle/md5 stage recomputes up to
    # 4×.
    # eager: fits neither clause of the session.py contract; lazy is
    # untested here.
    per_doc = (
        spread_small_input(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(F.transform(word_shingles(text_col, k), h28))).alias("g"),
        )
        .localCheckpoint(eager=True)
    )
    keepable = (
        per_doc.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_gram_df)
        .select("g")
    )
    kept = per_doc.join(keepable, "g", "left_semi").localCheckpoint(eager=True)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("__n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("__n2"))
    cont = F.round(
        F.col("n_shared").cast("double")
        / F.least(F.col("__n1"), F.col("__n2")).cast("double"),
        4,
    )
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .select("doc1", "doc2", "n_shared", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    max_prefix_posting: int = 10_000,
    shingles: bool = True,
    durable: bool = False,
) -> DataFrame:
    """GLOBAL (unblocked) exact set-similarity self-join via prefix
    filtering — the PPJoin family: the scale path when no metadata
    blocking key exists. ``blocked_jaccard_pairs`` confines the
    quadratic to a block; this operator needs no block at all and is
    still never O(n²).

    Principle: order every doc's distinct tokens by (corpus df ASC,
    token) — one GLOBAL total order, rarest first. If J(x,y) ≥ τ then
    |x∩y| ≥ ⌈τ/(1+τ)·(|x|+|y|)⌉, so x and y MUST share a token inside
    their first ``|t| − ⌈τ·|t|⌉ + 1`` tokens (the prefix) — a pair
    missed by the prefix equi-join is provably below threshold. The
    join applies two further LOSSLESS prunes: the size filter
    (τ·|x| ≤ |y| ≤ |x|/τ) and PPJoin's positional filter
    (1 + min(|x|−pos_x, |y|−pos_y) ≥ ⌈τ/(1+τ)·(|x|+|y|)⌉ — the suffixes
    after the matching position must still be able to reach the
    required overlap). Candidates are verified with exact
    array_intersect Jaccard, rounded to 4 dp BEFORE the ≥ τ test (repo
    contract); the filters are built against τ−1e-4 so a pair that
    ROUNDS UP to τ can never be pruned, and the 1e-9 slack under each
    ⌈·⌉ keeps float representation error from tightening a bound.

    Scale shape: prefix tokens are the RAREST tokens of each doc, so
    per-token posting lists in the candidate join are short by
    construction — boilerplate/stop tokens land in suffixes and never
    generate candidates. The degenerate case is a corpus of byte-equal
    copies (every token equally rare): run ``exact_dedup`` FIRST (the
    standard pipeline order, module docstring). ``max_prefix_posting``
    is the guard: if any prefix token's posting list exceeds it the
    operator raises toward exact-dedup-first rather than shuffling a
    quadratic candidate set (same count-guard contract as
    similarity.cosine_topk).

    Element universe: by default the 28-bit 3-word-shingle hash set
    (``shingle_hash_set`` — the SAME sets minhash_neardup sketches), so
    this operator is the EXACT counterpart of the MinHash-LSH plan:
    every pair with true shingle-Jaccard ≥ τ, no sketch recall loss.
    ``shingles=False`` switches to unigram token sets.

    ``durable=True`` keeps the reused intermediates with
    ``persist(DISK_ONLY)`` instead of a lazy localCheckpoint — identical
    values, lineage retained for executor-loss recovery (see
    :func:`blocked_jaccard_pairs` for the fault-tolerance contract).

    Returns ``(doc1, doc2, jaccard)``, doc1 < doc2, jaccard ≥ τ.
    """
    return _ppjoin_self_join(
        _token_sets(df, text_col, id_col, shingles=shingles),
        threshold,
        max_prefix_posting,
        durable,
        (),
        "prefix_jaccard_pairs",
    )


def prefix_posting_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    dfreq: DataFrame | None = None,
    shingles: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """``(sets, postings)`` for prefix-filtered set-similarity:
    ``sets`` = ``(doc_id, toks)`` (the exact-verify side), ``postings``
    = ``(doc_id, tok, pos, m)`` — each doc's PREFIX tokens (the first
    ``m − ⌈τ·m⌉ + 1``) under a shared total token order, the pair of
    frames a production ingest PERSISTS per document (the exact-tier
    sibling of :func:`band_signature_frame`).

    Order choice — the correctness-critical contract: the prefix bound
    is lossless under ANY total order applied consistently to BOTH
    sides of a future join.

    - ``dfreq`` given (columns ``(tok, df)``): order by (df ASC, tok) —
      rarest-first, the efficient PPJoin order. Tokens absent from
      ``dfreq`` count df=0 (they sort first and can never match the
      corpus anyway). Use when both sides' postings are built in the
      SAME run under the same frequency snapshot
      (:func:`incremental_prefix_jaccard`).
    - ``dfreq=None``: order by token value alone — a FIXED order that
      never drifts as the corpus grows, so postings persisted at ingest
      time remain jointly lossless against every future batch (df-order
      postings would silently break the bound once frequencies shift).
      The streaming sink uses this (streaming.windows::
      prefix_ingest_sink); the price is longer posting lists than
      rarest-first, not recall.
    """
    sets = _token_sets(df, text_col, id_col, shingles=shingles)
    return sets, postings_from_sets(sets, threshold - 1e-4, dfreq=dfreq)


def postings_from_sets(
    sets: DataFrame,
    tau: float,
    dfreq: DataFrame | None = None,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The posting half of :func:`prefix_posting_frame`, over an
    ALREADY-built ``(doc_id, [*group_cols,] toks)`` frame — so a caller
    holding a checkpointed set frame (the incremental operator hashes
    the corpus exactly once for dfreq + verify + postings) never
    re-runs the CPU-bound shingle stage.

    This is the one implementation of the correctness-critical prefix
    bound ``pos ≤ m − ⌈τ·m⌉ + 1`` (1e-9 under the ceil against float
    representation error), used by every prefix-filter tier — one-shot,
    incremental and streaming, blocked or not; the planted τ-boundary
    batteries in tests/test_blocked_join_boundaries.py cover each tier.
    ``group_cols`` (the blocked tiers pass
    ``("block",)``) are carried through, the df order joins on
    ``(*group_cols, tok)``, and the per-doc window partitions on
    ``(doc_id, *group_cols)`` — a doc listed under several blocks
    builds an independent prefix per membership, so each membership's
    bound is exact."""
    from pyspark.sql import Window

    g = list(group_cols)
    tok = sets.select("doc_id", *g, F.explode("toks").alias("tok"))
    if dfreq is not None:
        tok = tok.join(dfreq, [*g, "tok"], "left").withColumn(
            "__o", F.coalesce("df", F.lit(0))
        )
    else:
        tok = tok.withColumn("__o", F.col("tok"))
    wdoc = Window.partitionBy("doc_id", *g).orderBy("__o", "tok")
    sized = tok.select(
        "doc_id",
        *g,
        "tok",
        F.row_number().over(wdoc).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", *g)).alias("m"),
    )
    return sized.filter(
        F.col("pos") <= F.col("m") - F.ceil(F.lit(tau) * F.col("m") - 1e-9) + 1
    )


def incremental_prefix_jaccard(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    max_prefix_posting: int = 10_000,
    shingles: bool = True,
) -> DataFrame:
    """EXACT incremental near-dup: every (new, old) pair with true
    shingle-Jaccard ≥ τ between an arriving batch and the existing
    corpus — the exact-tier twin of :func:`incremental_neardup` (which
    trades recall via MinHash bands); the filters here are the PPJoin
    prefix/size/positional prunes of :func:`prefix_jaccard_pairs`,
    provably lossless, applied new×old only (never old×old).

    Scale shape mirrors the sketch tier: the batch's prefix postings
    BROADCAST onto the corpus posting stream (corpus never shuffles);
    per-ingest cost is the batch encode + one map-side candidate join +
    exact verification of the surviving candidates. The shared token
    order is the corpus df snapshot (rarest-first — both sides built
    under it in this run, so the bound holds); the persisted-postings
    variant with a drift-free order lives in
    streaming.windows::prefix_ingest_sink. ``max_prefix_posting``
    guards the duplicate-saturated corpus exactly as in
    :func:`prefix_jaccard_pairs`.

    Returns ``(new_id, old_id, jaccard)``, jaccard ≥ τ rounded to 4 dp
    BEFORE the threshold (cross-engine contract).
    """
    return _ppjoin_incremental(
        old, new, text_col, id_col, threshold, max_prefix_posting, None,
        shingles=shingles, what="incremental_prefix_jaccard",
    )


def _token_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None = None,
    shingles: bool = False,
) -> DataFrame:
    """The one set builder of the prefix-filter tiers: ``(doc_id,
    [block,] toks)`` with ``toks`` the distinct 3-word-shingle hashes
    (``shingles=True``) or distinct whitespace tokens, over a spread
    input (the CPU-bound stage these plans materialize once)."""
    elems = shingle_hash_set(text_col) if shingles else F.array_distinct(ws_tokens(text_col))
    block = [F.col(block_col).alias("block")] if block_col else []
    return spread_small_input(df).select(
        F.col(id_col).alias("doc_id"), *block, elems.alias("toks")
    )


def _ppjoin_self_join(
    sets: DataFrame,
    threshold: float,
    max_prefix_posting: int,
    durable: bool,
    group_cols: tuple[str, ...],
    what: str,
) -> DataFrame:
    """The one PPJoin self-join body of :func:`prefix_jaccard_pairs`
    (``group_cols=()``) and :func:`blocked_jaccard_pairs`
    (``("block",)``): tokens ranked by (group df ASC, token), prefix
    postings from :func:`postings_from_sets`, the posting-cap guard, a
    candidate equi-join on ``(*group_cols, tok)`` with the lossless size
    and positional prunes in the join condition, and the exact Jaccard
    verify within the group. The set frame and the postings are
    materialized (``durable`` picks the level, see
    :func:`blocked_jaccard_pairs`): the sets feed the df aggregate, the
    postings and both verify sides, and the postings feed the guard and
    both join sides."""

    def pin(df: DataFrame) -> DataFrame:
        return df.persist(StorageLevel.DISK_ONLY) if durable else df.localCheckpoint(eager=False)

    tau = threshold - 1e-4  # filters honor the round-then-threshold contract
    g = list(group_cols)
    t = pin(sets)
    dfreq = (
        t.select(*g, F.explode("toks").alias("tok"))
        .groupBy(*g, "tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    prefix = pin(postings_from_sets(t, tau, dfreq=dfreq, group_cols=group_cols))
    _assert_posting_cap(prefix, (*g, "tok"), max_prefix_posting, what)

    a, b = prefix.alias("a"), prefix.alias("b")
    need = F.ceil(F.lit(tau / (1.0 + tau)) * (F.col("a.m") + F.col("b.m")) - 1e-9)
    same_key = reduce(and_, [F.col(f"a.{c}") == F.col(f"b.{c}") for c in (*g, "tok")])
    cand = (
        a.join(
            b,
            same_key
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.m").cast("double") >= F.lit(tau) * F.col("a.m"))
            & (F.col("a.m").cast("double") >= F.lit(tau) * F.col("b.m"))
            & (
                F.least(F.col("a.m") - F.col("a.pos"), F.col("b.m") - F.col("b.pos")) + 1
                >= need
            ),
        )
        .select(
            *[F.col(f"a.{c}").alias(c) for c in g],
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        .distinct()
    )
    x = t.select(F.col("doc_id").alias("doc1"), *g, F.col("toks").alias("__tx"))
    y = t.select(F.col("doc_id").alias("doc2"), *g, F.col("toks").alias("__ty"))
    return (
        cand.join(x, ["doc1", *g])
        .join(y, ["doc2", *g])
        .select("doc1", "doc2", _jaccard(F.col("__tx"), F.col("__ty")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _ppjoin_incremental(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    max_prefix_posting: int,
    block_col: str | None,
    shingles: bool,
    what: str,
) -> DataFrame:
    """The one new×old PPJoin body of :func:`incremental_prefix_jaccard`
    (``block_col=None``) and :func:`incremental_blocked_jaccard`: ONE
    set pass per side (eagerly checkpointed — the sets feed dfreq,
    postings AND the exact verify), the corpus df snapshot as the shared
    token order for both sides' postings, the posting-cap guard on the
    corpus side, then :func:`_prefix_candidates_verify` on the
    ``(block, tok)`` struct key or the bare token. The blocked entry
    enforces one row per doc_id on each side first, because the verify
    joins sets by doc id alone."""
    tau = threshold - 1e-4
    g = ("block",) if block_col else ()
    # eager: fits neither clause of the session.py contract; lazy is
    # untested here.
    to = _token_sets(old, text_col, id_col, block_col, shingles).localCheckpoint(eager=True)
    tn = _token_sets(new, text_col, id_col, block_col, shingles).localCheckpoint(eager=True)
    if block_col:
        _assert_one_row_per_doc(to, f"{what}: corpus side")
        _assert_one_row_per_doc(tn, f"{what}: batch side")
    dfreq = (
        to.select(*g, F.explode("toks").alias("tok"))
        .groupBy(*g, "tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint(eager=True)
    )
    po = postings_from_sets(to, tau, dfreq=dfreq, group_cols=g).localCheckpoint(eager=True)
    pn = postings_from_sets(tn, tau, dfreq=dfreq, group_cols=g)
    _assert_posting_cap(po, (*g, "tok"), max_prefix_posting, f"{what}: corpus side")
    return _prefix_candidates_verify(po, pn, to, tn, tau, threshold, (*g, "tok"))


def _prefix_candidates_verify(
    po: DataFrame,
    pn: DataFrame,
    old_sets: DataFrame,
    new_sets: DataFrame,
    tau: float,
    threshold: float,
    key_cols: tuple[str, ...] = ("tok",),
) -> DataFrame:
    """Candidate join + exact verify shared by the incremental tiers and
    the streaming sinks: corpus postings ⋈ BROADCAST batch postings on
    ``key_cols`` (several columns join as one struct key) with the
    lossless size/positional prunes, then exact Jaccard on the full
    sets (batch side broadcast again — candidate rows are
    corpus-partitioned throughout; the corpus never shuffles)."""
    key = F.struct(*key_cols) if len(key_cols) > 1 else F.col(key_cols[0])
    o = po.select(
        F.col("doc_id").alias("old_id"),
        key.alias("tok"),
        F.col("pos").alias("opos"),
        F.col("m").alias("om"),
    )
    n = pn.select(
        F.col("doc_id").alias("new_id"),
        key.alias("tok"),
        F.col("pos").alias("npos"),
        F.col("m").alias("nm"),
    )
    need = F.ceil(F.lit(tau / (1.0 + tau)) * (F.col("om") + F.col("nm")) - 1e-9)
    cand = (
        o.join(F.broadcast(n), ["tok"])
        .filter(
            (F.col("nm").cast("double") >= F.lit(tau) * F.col("om"))
            & (F.col("om").cast("double") >= F.lit(tau) * F.col("nm"))
            & (F.least(F.col("om") - F.col("opos"), F.col("nm") - F.col("npos")) + 1 >= need)
        )
        .select("new_id", "old_id")
        .distinct()
    )
    x = old_sets.select(F.col("doc_id").alias("old_id"), F.col("toks").alias("__tx"))
    y = new_sets.select(F.col("doc_id").alias("new_id"), F.col("toks").alias("__ty"))
    return (
        cand.join(x, "old_id")
        .join(F.broadcast(y), "new_id")
        .select("new_id", "old_id", _jaccard(F.col("__tx"), F.col("__ty")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


_EDIT_L1 = 16  # PassJoin chunk1 width; long tier is lossless for len >= _EDIT_SHORT_MAX
_EDIT_SHORT_MAX = 31  # titles this short route through the symmetric-deletion tier


def _edit_distinct_titles(df: DataFrame, id_col: str, title_col: str) -> DataFrame:
    """Collapse exact-duplicate titles to ``(tid=min id, tt, grp)`` —
    the shared pre-step of both edit-tier entry points."""
    return (
        df.select(F.col(id_col).alias("tid"), F.col(title_col).alias("tt"))
        .groupBy("tt")
        .agg(F.min("tid").alias("tid"), F.count(F.lit(1)).cast("long").alias("grp"))
        .select("tid", "tt", "grp")
    )


def _symdelete_keys(t: DataFrame) -> DataFrame:
    """Symmetric-deletion keys ``(tid, chunk=0, clen=0, sub)`` (FastSS —
    Bocek et al. 2007; the SymSpell scheme) for the SHORT-title tier:
    every title emits itself plus its ``len`` one-character-deletion
    variants. Two strings with lev ≤ 1
    always share a key (substitution: delete the differing position
    from both; insert/delete: the shorter IS a deletion of the longer),
    and sharing a key bounds lev ≤ 2, so the exact ``levenshtein``
    verify stays cheap. Key count is len+1 ≤ 32 per title — affordable
    exactly because this tier is length-capped; the PassJoin chunk
    scheme takes over where 2-per-title index keys matter."""
    return (
        t.filter(F.length("tt") <= _EDIT_SHORT_MAX)
        .select("tid", "tt", F.explode(F.expr("sequence(0, length(tt))")).alias("p"))
        .select(
            "tid",
            F.when(F.col("p") == 0, F.col("tt"))
            .otherwise(
                F.expr("concat(substring(tt, 1, p - 1), substring(tt, p + 1, 2147483647))")
            )
            .alias("sub"),
        )
        .distinct()  # "aab": deleting position 1 or 2 both yield "ab"
        .select("tid", F.lit(0).alias("chunk"), F.lit(0).alias("clen"), "sub")
    )


def _edit_hot_key_guard(keys: DataFrame, hot_key_cap: int, caller: str) -> None:
    """The no-silent-cliff convention shared by both edit tiers: a
    blocking key ``(chunk, clen, sub)`` held by more than ``hot_key_cap``
    distinct titles would make the candidate equi-join quadratic in that
    group — ``caller`` raises with the escalation path instead of
    degrading silently."""
    hot = (
        keys.groupBy("chunk", "clen", "sub")
        .count()
        .filter(F.col("count") > hot_key_cap)
        .limit(1)
        .collect()
    )
    if hot:
        raise ValueError(
            f"{caller}: >{hot_key_cap} distinct titles share the blocking "
            f"key {hot[0].sub!r} — the candidate join would go quadratic. "
            "Strip the shared boilerplate prefix first (lev(xu,xv)=lev(u,v)) "
            "or raise hot_key_cap deliberately."
        )


def edit_neardup_pairs(
    df: DataFrame, id_col: str, title_col: str, hot_key_cap: int = 4096
) -> DataFrame:
    """Exact edit-distance (lev = 1) similarity self-join over DISTINCT
    titles — the edit-distance tier of the dedup matrix, beside the
    set-overlap tiers (MinHash / PPJoin prefix filter) which are blind
    to character-level edits. Two length-split blocking schemes feed
    one shared ``levenshtein`` verify (JVM codegen, no UDF):

    - **Long titles (len ≥ 31): PassJoin** (Li, Deng & Feng, ICDE
      2011). Split every title s into chunk1 = s[1..16] and chunk2 =
      s[17..]. One edit touches one chunk, so for any pair with lev ≤ 1
      the OTHER chunk of s occurs verbatim in t — chunk1 at position 1,
      or chunk2 at position 17+δ, δ = len(t)−len(s) ∈ {−1,0,+1}. Each
      title emits 2 index keys and 4 probe keys ((chunk, length,
      substring) tuples, the chunk2 probes length-coupled to the three
      possible partner lengths); candidates are an equi-join on those
      keys — never an all-pairs product. Lossless for pairs whose
      shorter title has length ≥ 31 (then both chunks are ≥ 14 chars).
    - **Short titles (len ≤ 31): symmetric deletion** (FastSS — Bocek
      et al. 2007; SymSpell). Each title emits itself + its ≤ 31
      one-deletion variants; lev ≤ 1 pairs always share a key. This
      tier exists because the chunk pigeonhole degrades below ~2×16
      chars (chunk keys alone return NO pairs among short titles, and
      exact dedup cannot catch lev=1 pairs, so short strings need
      their own lossless blocking, not a hand-off).

    Any true pair has |Δlen| ≤ 1, so with the tiers overlapping at
    len = 31 every pair lands wholly inside at least one tier:
    max ≤ 31 ⇒ both in the short tier; max ≥ 32 ⇒ min ≥ 31 ⇒ both in
    the long tier. Candidates are unioned and verified once.

    EXACT duplicates collapse first: identical titles group to one
    representative (min id, group size kept). That is not an
    optimization but the tier contract — identical titles are the
    exact_dedup tier's output (group membership, linear), and a pair
    list over them is inherently quadratic: a ×100 corpus of
    5,000-member identical-title groups has a TRUE pair expansion of
    1.25 B rows (OOM by construction, for any algorithm).
    After the collapse the edit tier's output is pairs of DISTINCT
    titles, which only a pathological corpus makes quadratic.

    At 100 TB the key join shuffles ~6 rows per DISTINCT long title on
    high-entropy 16-char substrings and ≤ 32 rows per short title
    (near-unique keys ⇒ tiny buckets). A corpus where more than
    ``hot_key_cap`` distinct titles share one blocking key (mass
    boilerplate openings) raises with guidance instead of silently
    going quadratic — the minhash hot-bucket convention; the exact
    escalation is common-prefix stripping (lev(xu,xv) = lev(u,v)) and
    a recursive pass over the tails.

    Returns ``(a, b, lev, na, nb)``: representative (min) ids of the
    two distinct titles, their edit distance (always 1 — identical
    titles collapsed), and each title's exact-duplicate group size.
    The result is LAZY: the hot-key guard runs here, and the candidate
    join and verify run in the caller's action. The distinct-title frame
    feeds the key builders and both verify sides, so it is checkpointed
    once instead of re-deriving the corpus scan and dedup per consumer."""
    t = _edit_distinct_titles(df, id_col, title_col).localCheckpoint(eager=False)
    idx = _edit_index_keys(t, "tid").localCheckpoint(eager=False)
    _edit_hot_key_guard(idx, hot_key_cap, "edit_neardup_pairs")
    cand = (
        idx.join(_edit_probe_keys(t, "pid"), ["chunk", "clen", "sub"])
        .filter(F.col("tid") != F.col("pid"))
        .select(F.least("tid", "pid").alias("a"), F.greatest("tid", "pid").alias("b"))
        .distinct()
    )
    ta = t.select(F.col("tid").alias("a"), F.col("tt").alias("__ta"), F.col("grp").alias("na"))
    tb = t.select(F.col("tid").alias("b"), F.col("tt").alias("__tb"), F.col("grp").alias("nb"))
    return (
        cand.join(ta, "a")
        .join(tb, "b")
        .withColumn("lev", F.levenshtein("__ta", "__tb").cast("int"))
        .filter(F.col("lev") <= 1)
        .select("a", "b", "lev", "na", "nb")
    )


def _edit_chunk_key(chunk: int, clen: Column, sub: Column) -> Column:
    return F.struct(F.lit(chunk).alias("chunk"), clen.alias("clen"), sub.alias("sub"))


def _edit_keys(t: DataFrame, long_keys: list[Column], id_out: str, probe: bool) -> DataFrame:
    """``(id, chunk, clen, sub)``: the long titles' PassJoin ``long_keys``
    unioned with every short title's symmetric-deletion keys. Probe keys
    whose substring was truncated by the string end can never match a
    true-pair index key (the shift math keeps required substrings in
    range), so ``probe=True`` drops them before the join."""
    long_rows = (
        t.filter(F.length("tt") >= _EDIT_SHORT_MAX)
        .select("tid", F.explode(F.array(*long_keys)).alias("k"))
        .select("tid", "k.chunk", "k.clen", "k.sub")
    )
    if probe:
        long_rows = long_rows.filter(F.length("sub") == F.col("clen"))
    return long_rows.unionByName(_symdelete_keys(t)).withColumnRenamed("tid", id_out)


def _edit_index_keys(t: DataFrame, id_out: str = "tid") -> DataFrame:
    """Blocking-index keys ``(id, chunk, clen, sub)`` of distinct titles
    — the PERSISTABLE postings of the edit tier (the character-level
    sibling of prefix_posting_frame): long titles (len ≥ 31) emit their
    2 PassJoin chunk keys; short titles (len ≤ 31) emit their ≤ 32
    symmetric-deletion keys under ``chunk = 0`` (a disjoint namespace,
    ``clen`` pinned to 0 so both sides construct identical join keys).
    Like the fixed token order of the prefix postings, these keys NEVER
    drift as the corpus grows — a title's keys are a pure function of
    the title — so postings persisted at any past ingest stay jointly
    lossless against every future probe batch."""
    L1 = _EDIT_L1
    chunks = [
        _edit_chunk_key(1, F.lit(L1), F.substring("tt", 1, L1)),
        _edit_chunk_key(
            2, (F.length("tt") - L1).cast("int"), F.substring("tt", L1 + 1, 1 << 30)
        ),
    ]
    return _edit_keys(t, chunks, id_out, probe=False)


def _edit_probe_keys(n: DataFrame, id_out: str = "pid") -> DataFrame:
    """Probe keys joined against :func:`_edit_index_keys`: the probe must
    enumerate every position a partner's chunk could occupy — chunk1 at
    position 1 and chunk2 at 17+δ for δ ∈ {−1,0,+1} (4 keys) — plus the
    symmetric-deletion keys for the short tier. idx(s) ⋈ probe(t) alone
    is lossless for every lev ≤ 1 pair: if the edit sits past position
    16 (in s's coordinates) the two first-16 prefixes are equal (chunk1
    hit); otherwise s's chunk2 survives verbatim in t at start 17+δ with
    length len(s)−16 = len(t)−(δ+16) — exactly the δ-coupled probe key
    (deriving the length from the probe's own length keeps the scheme
    lossless for ANY title length ≥ 31). The one-shot tier joins a
    title set's index with its own probes; the incremental tier joins
    the corpus index with the batch's probes."""
    L1 = _EDIT_L1
    chunks = [_edit_chunk_key(1, F.lit(L1), F.substring("tt", 1, L1))]
    for d in (-1, 0, 1):
        clen = (F.length("tt") - F.lit(d + L1)).cast("int")
        chunks.append(_edit_chunk_key(2, clen, F.col("tt").substr(F.lit(L1 + 1 + d), clen)))
    return _edit_keys(n, chunks, id_out, probe=True)


def incremental_edit_neardup(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    title_col: str,
    hot_key_cap: int = 4096,
) -> DataFrame:
    """Incremental ingest twin of :func:`edit_neardup_pairs` — the
    character-level tier of the every-batch dedup loop beside
    :func:`incremental_neardup` (MinHash) and
    :func:`incremental_prefix_jaccard` (PPJoin): every (new doc, old
    DISTINCT title) pair with edit distance ≤ 1, new×old only (never
    old×old), exact by the same two-tier losslessness argument as the
    one-shot (asymmetric: the corpus indexes 2 chunk keys per distinct
    long title, the batch probes 4; short titles use symmetric-deletion
    keys on both sides; tiers overlap at len 31, see
    :func:`_edit_probe_keys` for the one-sided losslessness proof).

    The OLD side collapses to distinct-title representatives (min id,
    group size) exactly like the one-shot: a batch title matching a
    5,000-copy boilerplate group yields ONE row with ``n_old = 5000``,
    not 5,000 rows — identical-title membership is reported through the
    representative map, which is what keeps the output (and the ×100
    corpus) linear in the batch instead of quadratic in group sizes.
    ``lev = 0`` rows ARE emitted (the new doc joins an existing exact
    group); the new side stays per-doc (each arriving doc is its own
    ingest decision).

    Scale shape mirrors the sketch/prefix tiers: batch probe keys
    BROADCAST onto the corpus posting stream — the corpus never
    shuffles; per-ingest cost is the batch key build + one map-side
    candidate join + exact ``levenshtein`` verify of the survivors.
    The streaming twin with PERSISTED postings is
    streaming.windows::edit_ingest_sink (stream==batch asserted in
    tests). Returns ``(new_id, old_id, lev, n_old)``. The result is
    LAZY, as in the one-shot: the hot-key guard runs here, and the
    candidate join and verify run in the caller's action."""
    t_old = _edit_distinct_titles(old, id_col, title_col).localCheckpoint(eager=False)
    idx = _edit_index_keys(t_old, "old_id").localCheckpoint(eager=False)
    _edit_hot_key_guard(idx, hot_key_cap, "incremental_edit_neardup")
    t_new = new.select(
        F.col(id_col).alias("tid"), F.col(title_col).alias("tt")
    ).localCheckpoint(eager=False)
    probes = _edit_probe_keys(t_new, "new_id")
    cand = (
        idx.join(F.broadcast(probes), ["chunk", "clen", "sub"])
        .select("new_id", "old_id")
        .distinct()
    )
    to = t_old.select(
        F.col("tid").alias("old_id"), F.col("tt").alias("__to"), F.col("grp").alias("n_old")
    )
    tn = t_new.select(F.col("tid").alias("new_id"), F.col("tt").alias("__tn"))
    return (
        cand.join(to, "old_id")
        .join(F.broadcast(tn), "new_id")
        .withColumn("lev", F.levenshtein("__tn", "__to").cast("int"))
        .filter(F.col("lev") <= 1)
        .select("new_id", "old_id", "lev", "n_old")
    )
