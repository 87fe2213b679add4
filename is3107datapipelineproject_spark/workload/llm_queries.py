"""LLM-training-data pipeline workload over ``documents``/``embeddings``.

Each operator from the dedup / similarity / text / multimodal families
registers here with a DuckDB oracle generated FROM THE SAME CONSTANTS as
the Spark implementation (hash prefix widths, MinHash coefficients, band
layout, thresholds) so the two sides cannot drift.

Determinism contract recap (see operators.* docstrings):
- every content hash derives from md5 (cross-engine reproducible);
- similarity scores are computed in float64 and rounded to 4 decimals
  BEFORE thresholding/ranking, so fp summation-order noise (~1e-15)
  cannot flip a comparison that matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.operators import dedup as D
from is3107datapipelineproject_spark.operators import multimodal as M
from is3107datapipelineproject_spark.operators import similarity as S
from is3107datapipelineproject_spark.operators import text as X
from is3107datapipelineproject_spark.sources.tables import load_table
from is3107datapipelineproject_spark.workload.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- shared SQL fragments (generated from the same constants as Spark) ------

SQL_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
SQL_TOKS = f"string_split({SQL_NORM}, ' ')"
# k=3 word shingles, truncated shingle for short docs (matches dedup.word_shingles)
SQL_SHINGLES = (
    "list_transform(generate_series(1, greatest(len(toks) - 2, 1)),"
    " i -> array_to_string(toks[i:i+2], ' '))"
)
SQL_H28 = "CAST('0x' || substr(md5({x}), 1, 7) AS BIGINT)"
SQL_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"
SQL_SHINGLE_HASHES = f"list_distinct(list_transform({SQL_SHINGLES}, s -> {SQL_H28.format(x='s')}))"

_MH_COLS = ", ".join(
    f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {D.MINHASH_P})) AS mh{j}"
    for j, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
)
_BAND_LIST = ", ".join(
    "concat_ws('-', '%d', %s)"
    % (band, ", ".join(f"mh{band * D.LSH_ROWS + r}" for r in range(D.LSH_ROWS)))
    for band in range(D.LSH_BANDS)
)

SQL_DOCS_TOKS = f"SELECT doc_id, {SQL_TOKS} AS toks FROM documents"
SQL_DOCS_SHINGLES = f"SELECT doc_id, {SQL_SHINGLE_HASHES} AS hs FROM ({SQL_DOCS_TOKS})"


# --- exact dedup ------------------------------------------------------------

@register(
    "exact_dedup",
    oracle=f"""
SELECT md5({SQL_NORM}) AS fingerprint,
       min(doc_id) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
""",
    tags=("dedup", "llm"),
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5 fingerprint of normalized text, smallest
    doc_id survives. One shuffle (hash-aggregate on the fingerprint)."""
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"), "text", "doc_id")


# --- MinHash-LSH near-dup ---------------------------------------------------

MINHASH_ORACLE = f"""
WITH toks AS ({SQL_DOCS_TOKS}),
sh AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> {SQL_H28.format(x='s')})) AS hs
       FROM (SELECT doc_id, {SQL_SHINGLES} AS shingles FROM toks)),
sig AS (SELECT doc_id, hs, {_MH_COLS} FROM sh),
bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc1, doc2,
         round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
               / (CAST(len(x.hs) + len(y.hs) AS DOUBLE) - len(list_intersect(x.hs, y.hs))),
               4) AS jaccard
  FROM cand JOIN sh x ON x.doc_id = doc1 JOIN sh y ON y.doc_id = doc2
)
SELECT doc1, doc2, jaccard FROM scored WHERE jaccard >= 0.8
"""


@register("minhash_neardup", oracle=MINHASH_ORACLE, tags=("dedup", "llm"))
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (shingle → 16 minhashes → 4-band
    bucket join → exact-Jaccard verify ≥ 0.8). Candidate generation is an
    equi-join on band keys — never an all-pairs product."""
    return D.minhash_neardup_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.8)


@register(
    "neardup_by_source",
    oracle=f"""
WITH pairs AS ({MINHASH_ORACLE}),
lab AS (
  SELECT least(x.source, y.source) AS source_a,
         greatest(x.source, y.source) AS source_b,
         p.jaccard
  FROM pairs p
  JOIN documents x ON x.doc_id = p.doc1
  JOIN documents y ON y.doc_id = p.doc2
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(jaccard AS DECIMAL(8,4))) AS DOUBLE) / count(*), 4) AS avg_jaccard
FROM lab GROUP BY 1, 2
""",
    tags=("dedup", "curation", "llm"),
)
def q_neardup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication audit by source: near-dup pairs rolled up to the
    (source, source) level — the dashboard that tells you WHICH feeds
    are flooding the corpus with boilerplate (cross-source cells) or
    re-crawls (diagonal cells) before you spend the dedup rewrite.

    Composition: minhash_neardup_pairs (bucketed LSH — never all-pairs)
    then two equi-joins attaching each side's source and a tiny
    (sources²-bounded) aggregate. The joins key on doc_id; AQE
    broadcast-converts them when the pair set is small, and at worst
    they shuffle the PAIRS, never expand them. DECIMAL-cast mean keeps
    avg_jaccard deterministic across engines and partitionings."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_neardup_pairs(docs, "text", "doc_id", threshold=0.8)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(src.withColumnsRenamed({"doc_id": "doc1", "source": "s1"}), "doc1")
        .join(src.withColumnsRenamed({"doc_id": "doc2", "source": "s2"}), "doc2")
    )
    return (
        lab.select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(8,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_jaccard"),
        )
    )


# --- SimHash ----------------------------------------------------------------

_SQL_TOKHASHES = f"list_distinct(list_transform(toks, t -> {SQL_H60.format(x='t')}))"
_SQL_SIMHASH = (
    f"list_sum(list_transform(range(0, {D.SIMHASH_BITS}), b -> CASE WHEN"
    " 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)"
    " THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))"
)
# CAST: DuckDB list_sum(BIGINT) widens to HUGEINT; pin back to int64.
SQL_DOCS_SIMHASH = (
    f"SELECT doc_id, CAST(coalesce({_SQL_SIMHASH}, 0) AS BIGINT) AS simhash"
    f" FROM (SELECT doc_id, {_SQL_TOKHASHES} AS hs FROM ({SQL_DOCS_TOKS}))"
)


@register(
    "simhash_fingerprint",
    oracle=f"SELECT doc_id, simhash FROM ({SQL_DOCS_SIMHASH})",
    tags=("dedup", "llm"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document (majority vote over distinct
    token hashes) — narrow, shuffle-free."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_signatures(docs, "text", "doc_id")


@register(
    "simhash_neardup",
    oracle=f"""
WITH sig AS ({SQL_DOCS_SIMHASH})
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    tags=("dedup", "llm"),
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs with Hamming ≤ 3 via the 4-band pigeonhole equi-join
    (the oracle brute-forces all pairs — same answer, quadratic; the
    Spark plan is the scale path)."""
    out = D.simhash_neardup_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3)
    return out.select("doc1", "doc2", F.col("hamming").cast("int").alias("hamming"))


# --- blocked n-gram Jaccard -------------------------------------------------

@register(
    "ngram_jaccard",
    oracle=f"""
WITH t AS (SELECT doc_id, source, list_distinct({SQL_TOKS}) AS toks FROM documents)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (CAST(len(a.toks) + len(b.toks) AS DOUBLE) - len(list_intersect(a.toks, b.toks))),
             4) AS jaccard
FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / (CAST(len(a.toks) + len(b.toks) AS DOUBLE) - len(list_intersect(a.toks, b.toks))),
            4) >= 0.5
""",
    tags=("dedup", "llm"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.5 between doc pairs sharing a source
    — blocked dedup via PPJoin prefix filtering WITHIN the block (the
    candidate equi-join key is the composite (block, rare-token), with
    the lossless size + positional prunes), so within-block cost is
    Σ posting², not Σ block² — never a raw block self-join (the oracle
    is that quadratic ground truth)."""
    return D.blocked_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", "source", threshold=0.5
    )


@register(
    "incremental_blocked_jaccard",
    oracle=f"""
WITH t AS (SELECT doc_id, source, list_distinct({SQL_TOKS}) AS toks FROM documents)
SELECT n.doc_id AS new_id, o.doc_id AS old_id,
       round(CAST(len(list_intersect(n.toks, o.toks)) AS DOUBLE)
             / (CAST(len(n.toks) + len(o.toks) AS DOUBLE) - len(list_intersect(n.toks, o.toks))),
             4) AS jaccard
FROM t n JOIN t o ON n.source = o.source AND n.doc_id % 7 = 0 AND o.doc_id % 7 <> 0
WHERE round(CAST(len(list_intersect(n.toks, o.toks)) AS DOUBLE)
            / (CAST(len(n.toks) + len(o.toks) AS DOUBLE) - len(list_intersect(n.toks, o.toks))),
            4) >= 0.5
""",
    tags=("dedup", "incremental", "llm"),
)
def q_incremental_blocked_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT incremental BLOCKED ingest dedup (operators/dedup.py::
    incremental_blocked_jaccard): the doc_id % 7 == 0 slice plays the
    arriving batch, checked against the rest of the corpus for true
    token-set Jaccard >= 0.5 WITHIN the shared source block — the
    incremental tier that completes the blocked family's symmetry with
    the minhash/prefix/edit/semantic tiers (one-shot + every-batch).
    The batch's prefix postings broadcast onto the corpus posting
    stream on the composite (block, token) key — the corpus never
    shuffles, and the oracle is the quadratic new x old within-block
    ground truth. Split on % 7, NOT the % 5 the other incremental
    queries use: the testdata assigns source = src(doc_id % 20), so a
    divisor-of-20 split puts every source entirely on one side and the
    query (and its oracle) would be vacuously empty; 7 is coprime with
    20, giving every block members on both sides."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 7 == 0)
    old = docs.filter(F.col("doc_id") % 7 != 0)
    return D.incremental_blocked_jaccard(old, new, "text", "doc_id", "source", threshold=0.5)


# --- text analysis ----------------------------------------------------------

_EN = ", ".join(f"'{w}'" for w in X.LANG_STOPWORDS["en"])


@register(
    "text_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, n_chars, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr,
       round(CAST(len(list_filter(toks, t -> list_contains([{_EN}], t))) AS DOUBLE) / len(toks), 4)
         AS stop_en,
       CAST(n_chars AS BIGINT) AS n_chars
FROM t
""",
    tags=("text", "llm"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: counts, lexical diversity, English
    stopword ratio. Narrow column math — zero shuffles at any scale."""
    docs = _t(spark, sf_dir, "documents")
    toks = X.ws_tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
        F.round(X.type_token_ratio("text"), 4).alias("ttr"),
        F.round(X.stopword_ratio("text", X.LANG_STOPWORDS["en"]), 4).alias("stop_en"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


# (doc_id, quality) from documents — shared by text_quality and the
# keep-best dedup survivor policy so the two oracles cannot drift.
SQL_QUALITY_FROM_DOCS = f"""
SELECT doc_id,
       round(0.5 * least(1.0, n / 100.0) + 0.3 * ttr + 0.2 * (1.0 - pr), 4) AS quality
FROM (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
               / length(text) AS pr
      FROM (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents))
"""


@register(
    "text_quality",
    oracle=SQL_QUALITY_FROM_DOCS,
    tags=("text", "llm"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score in [0,1]: content length, lexical
    diversity, punctuation density. The filter stage of a data-curation
    pipeline (keep quality ≥ cutoff) is a free pushed-down predicate on
    this column."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(X.quality_score("text"), 4).alias("quality"))


_LANG_CASE = " ".join(
    f"WHEN hits_{lang} = best AND best >= 1 THEN '{lang}'" for lang in X.LANG_STOPWORDS
)
_LANG_HITS = ", ".join(
    "CAST(len(list_filter(toks, t -> list_contains([%s], t))) AS BIGINT) AS hits_%s"
    % (", ".join(f"'{w}'" for w in sw), lang)
    for lang, sw in X.LANG_STOPWORDS.items()
)


@register(
    "lang_id",
    oracle=f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {_LANG_HITS} FROM t),
g AS (SELECT *, greatest(hits_en, hits_de, hits_fr, hits_es) AS best FROM h)
SELECT doc_id, CASE {_LANG_CASE} ELSE 'und' END AS pred_lang FROM g
""",
    tags=("text", "llm"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (deterministic heuristic; the corpus
    text is synthetic word-soup, so this checks the OPERATOR, not label
    recovery — at 100 TB the same column contract wraps a real
    fastText-style model as a Pandas UDF)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", X.predict_lang("text").alias("pred_lang"))


@register(
    "token_count_regex",
    oracle=f"""
SELECT doc_id, CAST(len(regexp_extract_all({SQL_NORM}, '[a-z0-9]+')) AS BIGINT) AS n_regex_tokens
FROM documents
""",
    tags=("text", "llm"),
)
def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: maximal [a-z0-9]+ runs over normalized
    text (tokenizer-shaped counting without a tokenizer dependency)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", X.regex_token_count("text").cast("bigint").alias("n_regex_tokens")
    )


# k=2 word bigrams, truncated for 1-token docs (matches dedup.word_shingles k=2)
SQL_BIGRAMS = (
    "list_transform(generate_series(1, greatest(len(toks) - 1, 1)),"
    " i -> array_to_string(toks[i:i+1], ' '))"
)


@register(
    "repetition_stats",
    oracle=f"""
WITH toks AS ({SQL_DOCS_TOKS}),
bg AS (SELECT doc_id,
              round(1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs), 4) AS dup_2gram_frac
       FROM (SELECT doc_id, {SQL_BIGRAMS} AS bgs FROM toks)),
tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
       FROM (SELECT doc_id, unnest(toks) AS t FROM toks) GROUP BY 1, 2),
rep AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_token_frac
        FROM tf GROUP BY 1)
SELECT r.doc_id, r.top_token_frac, b.dup_2gram_frac
FROM rep r JOIN bg b ON r.doc_id = b.doc_id
""",
    tags=("text", "llm"),
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: top-token fraction +
    duplicate-bigram fraction (the filters that catch degenerate
    looping/repeated text in a pretraining corpus)."""
    docs = _t(spark, sf_dir, "documents")
    return X.repetition_stats(docs, "text", "doc_id")


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH toks AS ({SQL_DOCS_TOKS}),
tf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
       FROM (SELECT doc_id, unnest(toks) AS t FROM toks) GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.term,
             round(CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df, 4) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
      FROM s)
SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3
""",
    tags=("text", "llm"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by ratio-idf tf-idf
    (keyword extraction / topic fingerprinting over the corpus). Exact
    integer arithmetic + one IEEE divide ⇒ bit-reproducible ranking."""
    docs = _t(spark, sf_dir, "documents")
    return X.tfidf_top_terms(docs, "text", "doc_id", top_n=3)


@register(
    "doc_fingerprint",
    oracle=f"""
WITH sh AS ({SQL_DOCS_SHINGLES})
SELECT doc_id, array_to_string(list_sort(hs)[1:8], '-') AS fingerprint FROM sh
""",
    tags=("text", "llm"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-8 shingle-hash sketch as a joinable content signature
    (winnowing-style document fingerprinting)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", X.rolling_fingerprint("text").alias("fingerprint"))


# Shared CTE chain: MinHash bands → verified pairs → transitive closure →
# per-doc min-reachable-id cluster labels (recursive-CTE twin of the
# iterative hash-min propagation in operators.dedup.neardup_clusters).
CLUSTERS_ORACLE_CTES = f"""
WITH toks AS ({SQL_DOCS_TOKS}),
sh AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> {SQL_H28.format(x='s')})) AS hs
       FROM (SELECT doc_id, {SQL_SHINGLES} AS shingles FROM toks)),
sig AS (SELECT doc_id, hs, {_MH_COLS} FROM sh),
bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc1, doc2,
         round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
               / (CAST(len(x.hs) + len(y.hs) AS DOUBLE) - len(list_intersect(x.hs, y.hs))),
               4) AS jaccard
  FROM cand JOIN sh x ON x.doc_id = doc1 JOIN sh y ON y.doc_id = doc2
),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM scored WHERE jaccard >= 0.8
  UNION
  SELECT doc2, doc1 FROM scored WHERE jaccard >= 0.8
),
reach AS (
  -- transitive closure by recursion; UNION dedups so it terminates
  WITH RECURSIVE r(id, seen) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.seen FROM edges e JOIN r ON r.id = e.src
  )
  SELECT * FROM r
),
clusters AS (
  SELECT id AS doc_id, min(seen) AS cluster_id FROM reach GROUP BY 1
)
"""


def _clusters_oracle(docs_rel: str) -> str:
    """CLUSTERS_ORACLE_CTES over an arbitrary docs relation — the
    retraction query's oracle runs the same closure on the FILTERED
    corpus (str.replace does not rescan the inserted text, so a
    subquery containing ``FROM documents`` substitutes safely)."""
    return CLUSTERS_ORACLE_CTES.replace("FROM documents", f"FROM {docs_rel}")


@register(
    "neardup_clusters",
    oracle=CLUSTERS_ORACLE_CTES + "SELECT doc_id, cluster_id FROM clusters",
    tags=("dedup", "llm", "iterative"),
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup graph: cluster_id =
    min reachable doc id (iterative hash-min label propagation; the
    oracle computes the same closure with a recursive CTE)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_neardup_pairs(docs, "text", "doc_id", threshold=0.8)
    return D.neardup_clusters(docs, pairs, "doc_id")


@register(
    "incremental_neardup_clusters",
    oracle=CLUSTERS_ORACLE_CTES + "SELECT doc_id, cluster_id FROM clusters",
    tags=("dedup", "incremental", "iterative", "llm"),
)
def q_incremental_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-components maintenance: the 20%% of docs
    with ``doc_id %% 5 == 0`` play the arriving batch; the corpus-side
    cluster labels are folded forward through the batch's new edges
    (new×old from the incremental MinHash tier, new×new from the
    batch-local pair scan) via cluster CONTRACTION — the fixpoint
    iteration runs on the batch-sized supernode graph and the corpus
    label table is touched by two broadcast joins, never a corpus-wide
    shuffle (operators/dedup.py::incremental_cluster_update). The
    oracle is the SAME full recursive closure as the one-shot
    ``neardup_clusters`` — the driver's hash compare IS the
    incremental==one-shot assertion. (Here the corpus labels are
    rebuilt per call because testdata ships no side store; production
    reads them from the persisted label table that
    cluster_ingest_sink maintains.)

    The three MinHash tiers (old×old pairs, new×old incremental join,
    new×new batch pairs) share ONE signature pass:
    minhash_doc_signatures runs once over the whole corpus, is
    localCheckpoint'd, and each tier receives its side's filtered view. Each
    side's text was previously shingled+hashed twice."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    sigs = D.minhash_doc_signatures(docs, "text", "doc_id").localCheckpoint(eager=False)
    s_old = sigs.filter(F.col("doc_id") % 5 != 0)
    s_new = sigs.filter(F.col("doc_id") % 5 == 0)
    old_pairs = D.minhash_neardup_pairs(
        old, "text", "doc_id", threshold=0.8, sig_frame=s_old
    )
    old_labels = D.neardup_clusters(old, old_pairs, "doc_id")
    nx_old = D.incremental_neardup(
        old, new, "text", "doc_id", threshold=0.8, old_sig_frame=s_old, new_sig_frame=s_new
    ).select(F.col("new_id").alias("doc1"), F.col("old_id").alias("doc2"))
    nx_new = D.minhash_neardup_pairs(
        new, "text", "doc_id", threshold=0.8, sig_frame=s_new
    ).select("doc1", "doc2")
    return D.incremental_cluster_update(
        old_labels, new.select("doc_id"), nx_old.unionByName(nx_new), "doc_id"
    )


@register(
    "cluster_retract",
    oracle=_clusters_oracle("(SELECT * FROM documents WHERE doc_id % 17 <> 3)")
    + "SELECT doc_id, cluster_id FROM clusters",
    tags=("dedup", "incremental", "iterative", "llm"),
)
def q_cluster_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-aware cluster maintenance (the right-to-be-forgotten
    path): docs with ``doc_id %% 17 == 3`` are purged and the label
    table is repaired WITHIN the affected clusters only — a deletion
    can SPLIT a cluster or orphan its min-id label, the two hazards
    ingest-side contraction cannot express
    (operators/dedup.py::retract_from_cluster_state). The oracle
    replays the full closure over the filtered corpus, so the driver
    hash compare asserts retraction == one-shot-over-survivors. (Labels
    are rebuilt per call because testdata ships no side store;
    production reads the persisted label table.)

    The corpus-wide pair build and the affected-cluster re-derivation
    share ONE signature pass (same shared-frame discipline as
    incremental_neardup_clusters — minhash_doc_signatures once,
    localCheckpoint, filtered views per stage)."""
    docs = _t(spark, sf_dir, "documents")
    deleted = docs.filter(F.col("doc_id") % 17 == 3).select("doc_id")
    sigs = D.minhash_doc_signatures(docs, "text", "doc_id").localCheckpoint(eager=False)
    pairs = D.minhash_neardup_pairs(docs, "text", "doc_id", threshold=0.8, sig_frame=sigs)
    labels = D.neardup_clusters(docs, pairs, "doc_id")
    return D.retract_from_cluster_state(
        docs, labels, deleted, "text", "doc_id", threshold=0.8, sig_frame=sigs
    )


@register(
    "cluster_retract_from_state",
    oracle=_clusters_oracle("(SELECT * FROM documents WHERE doc_id % 17 <> 3)")
    + "SELECT doc_id, cluster_id FROM clusters",
    tags=("dedup", "incremental", "materialize", "iterative", "llm"),
)
def q_cluster_retract_from_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster_retract's amortized twin (same filtered-closure oracle):
    the production right-to-be-forgotten shape. Labels come from the
    PERSISTED label table (plans/indexes.py::cluster_label_table) and
    the affected clusters' pairs are RE-DERIVED from the PERSISTED
    band/signature table (band_signature_table → guarded
    pairs_from_band_table) — neither the corpus text nor the untouched
    clusters are re-read, so per-retraction cost is two narrow scans
    plus work bounded by the affected-cluster mass, vs the full
    pair-gen + corpus fixpoint the `cluster_retract` demo pays per call
    (its oracle verifies the whole build). Same deletion set
    (doc_id %% 17 == 3); the driver hash compare asserts
    from-state retraction == one-shot-over-survivors."""
    from is3107datapipelineproject_spark.plans.indexes import (
        band_signature_table,
        cluster_label_table,
    )

    labels = spark.table(cluster_label_table(spark, sf_dir))
    bands = spark.table(band_signature_table(spark, sf_dir))
    deleted = labels.filter(F.col("doc_id") % 17 == 3).select("doc_id")
    return D.retract_from_cluster_state(
        labels.select("doc_id"),
        labels,
        deleted,
        id_col="doc_id",
        pairs_fn=lambda aff: D.pairs_from_band_table(
            bands.join(F.broadcast(aff.select("doc_id")), "doc_id", "left_semi"),
            threshold=0.8,
        ),
    )


@register(
    "neardup_clusters_from_state",
    oracle=CLUSTERS_ORACLE_CTES + "SELECT doc_id, cluster_id FROM clusters",
    tags=("dedup", "incremental", "materialize", "llm"),
)
def q_neardup_clusters_from_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """neardup_clusters' amortized twin (same oracle): the cluster
    labels come from the PERSISTED table the ingest loop maintains
    (plans/indexes.py::cluster_label_table — built once through the
    incremental contraction path, read ever after), so query cost is a
    2-column scan instead of the corpus-wide pair-gen + fixpoint both
    demo queries pay per call. The *_from_edges pattern applied to the
    dedup family: the oracle still replays the FULL recursive closure,
    so the driver re-certifies build+incremental == one-shot on every
    sample."""
    from is3107datapipelineproject_spark.plans.indexes import cluster_label_table

    return spark.table(cluster_label_table(spark, sf_dir)).select(
        "doc_id", "cluster_id"
    )


@register(
    "corpus_dedup_keep_from_state",
    oracle=CLUSTERS_ORACLE_CTES
    + """
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.doc_id = c.cluster_id
""",
    tags=("dedup", "incremental", "materialize", "llm"),
)
def q_corpus_dedup_keep_from_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_dedup_keep's amortized twin (same oracle): the keep list
    — one min-id survivor per near-dup cluster — read from the
    PERSISTED label table instead of re-running pair-gen + fixpoint per
    call. The production dedup chain end to end: ingest maintains
    labels (cluster_ingest_sink), purge repairs them
    (cluster_purge_state), and the keep decision is a filter + join
    (label == own id) over the maintained state."""
    from is3107datapipelineproject_spark.plans.indexes import cluster_label_table

    labels = spark.table(cluster_label_table(spark, sf_dir))
    docs = _t(spark, sf_dir, "documents")
    return (
        labels.filter(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id")
        .join(docs.select("doc_id", "lang", "source"), "doc_id")
    )


@register(
    "corpus_dedup_keep",
    oracle=CLUSTERS_ORACLE_CTES
    + """
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.doc_id = c.cluster_id
""",
    tags=("dedup", "llm"),
)
def q_corpus_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: min-id survivor per near-dup cluster,
    singletons kept — the operation a training-data pipeline actually
    ships (pairs and clusters are its diagnostics)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    return D.dedup_corpus(docs, "text", "doc_id", threshold=0.8).select(
        "doc_id", "lang", "source"
    )


@register(
    "corpus_dedup_keep_best",
    oracle=CLUSTERS_ORACLE_CTES
    + f""",
q AS ({SQL_QUALITY_FROM_DOCS}),
k AS (
  SELECT c.doc_id,
         row_number() OVER (
           PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id ASC
         ) AS rn
  FROM clusters c JOIN q ON q.doc_id = c.doc_id
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN k ON k.doc_id = d.doc_id
WHERE k.rn = 1
""",
    tags=("dedup", "curation", "llm", "iterative"),
)
def q_corpus_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: the HIGHEST-quality member of each near-dup
    cluster survives (ties → min id) instead of the arbitrary min-id
    copy — same cluster machinery, survivor picked by the text_quality
    score (operators/dedup.py::dedup_corpus score_col path)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    scored = docs.withColumn("quality", F.round(X.quality_score("text"), 4))
    return D.dedup_corpus(
        scored, "text", "doc_id", threshold=0.8, score_col="quality"
    ).select("doc_id", "lang", "source")


# --- embedding similarity ---------------------------------------------------

SQL_EMB = """
SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
FROM embeddings
"""


@register(
    "cosine_topk",
    oracle=f"""
WITH e AS ({SQL_EMB}),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
s AS (
  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
  FROM e, q WHERE e.vec_id <> q.qid
),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM s)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
""",
    tags=("similarity", "llm"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for the query set vec_id < 50 —
    broadcast queries × corpus scan, ranked on rounded similarity."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding", k=10
    ).select("query_id", "neighbor_id", "cosine", "rank")


@register(
    "cosine_topk_bucketed",
    oracle=f"""
WITH e AS ({SQL_EMB}),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 50),
s AS (
  SELECT q.qid AS query_id, e.label AS bucket, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
  FROM e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.qid
),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM s)
SELECT query_id, bucket, neighbor_id, cosine, rank FROM r WHERE rank <= 5
""",
    tags=("similarity", "llm"),
)
def q_cosine_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style bucketed top-5: search only the query's cluster bucket —
    the plan whose per-query cost is |bucket|, not |corpus|."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_bucketed(
        emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding", "label", k=5
    ).select("query_id", "bucket", "neighbor_id", "cosine", "rank")


@register(
    "embedding_neardup",
    oracle=f"""
WITH e AS ({SQL_EMB})
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
""",
    tags=("similarity", "llm"),
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within cluster buckets (threshold
    0.4 tuned to the synthetic corpus, which plants no true embedding
    duplicates — the operator contract is the bucketed pair scan)."""
    return S.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label", threshold=0.4
    )


# Per-(bucket, position) centroid components: decimal sum (exact, order-
# independent) → double divide → round — same contract as
# similarity.bucket_centroids.
SQL_CENTROID_COMPONENTS = """
SELECT label AS bucket, pos,
       round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS c
FROM (
  SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
  FROM embeddings
) GROUP BY 1, 2
"""


@register(
    "label_centroids",
    oracle=f"""
WITH per AS ({SQL_CENTROID_COMPONENTS})
SELECT bucket, pos, c FROM per
""",
    tags=("similarity", "llm"),
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the IVF coarse codebook), exposed in
    long form (bucket, pos, c) so the oracle compares component-wise."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = S.bucket_centroids(emb, "embedding", "label")
    return cents.select(
        "bucket", F.posexplode("centroid").alias("pos0", "c")
    ).select("bucket", (F.col("pos0") + 1).alias("pos"), "c")


@register(
    "centroid_outliers",
    oracle=f"""
WITH e AS ({SQL_EMB}),
per AS ({SQL_CENTROID_COMPONENTS}),
cents AS (SELECT bucket, list(c ORDER BY pos) AS centroid FROM per GROUP BY 1),
scored AS (
  SELECT e.vec_id, e.label,
         round(list_cosine_similarity(e.v, c.centroid), 4) AS centroid_cos
  FROM e JOIN cents c ON c.bucket = e.label
)
SELECT vec_id, label, centroid_cos, CAST(rnk AS INT) AS rnk FROM (
  SELECT s.*,
         row_number() OVER (PARTITION BY label ORDER BY centroid_cos ASC, vec_id ASC) AS rnk
  FROM scored s
) WHERE rnk <= 10
""",
    tags=("similarity", "curation", "llm"),
)
def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mislabeled-sample sweep: the 10 vectors of each label
    least similar to their own label centroid
    (operators/similarity.py::centroid_outliers — broadcast centroids,
    JVM cosine fold, WindowGroupLimit-pushed bottom-k)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.centroid_outliers(emb, "vec_id", "embedding", "label", k=10)


@register(
    "ivf_topk",
    oracle=f"""
WITH e AS ({SQL_EMB}),
per AS ({SQL_CENTROID_COMPONENTS}),
cents AS (SELECT bucket, list(c ORDER BY pos) AS centroid FROM per GROUP BY 1),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
probe AS (
  SELECT qid, bucket FROM (
    SELECT q.qid, c.bucket,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(c.centroid, q.qv), 4) DESC, c.bucket
           ) AS prank
    FROM q, cents c
  ) WHERE prank <= 2
),
s AS (
  SELECT p.qid AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
  FROM probe p
  JOIN e ON e.label = p.bucket
  JOIN q ON q.qid = p.qid
  WHERE e.vec_id <> p.qid
),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM s)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
""",
    tags=("similarity", "llm"),
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multi-probe ANN top-5 (2 probes): each query searches its two
    nearest centroid buckets — the recall knob between the single-bucket
    and brute-force tiers."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding", "label",
        probes=2, k=5,
    )


@register(
    "knn_classify",
    oracle=f"""
WITH e AS ({SQL_EMB}),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
s AS (
  SELECT q.qid AS query_id, e.vec_id AS nid, e.label AS nlabel,
         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
  FROM e, q WHERE e.vec_id <> q.qid
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nid) AS rank
    FROM s
  ) WHERE rank <= 10
),
votes AS (
  SELECT query_id, nlabel, CAST(count(*) AS BIGINT) AS votes
  FROM topk GROUP BY 1, 2
)
SELECT query_id, nlabel AS predicted_label, votes FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nlabel) AS vrank
  FROM votes
) WHERE vrank = 1
""",
    tags=("similarity", "llm"),
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-NN majority-vote label prediction for the query set — nearest-
    curated-examples classification, the embedding-space quality filter."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_classify(
        emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding", "label", k=10
    )


@register(
    "ann_recall",
    oracle=f"""
WITH e AS ({SQL_EMB}),
per AS ({SQL_CENTROID_COMPONENTS}),
cents AS (SELECT bucket, list(c ORDER BY pos) AS centroid FROM per GROUP BY 1),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
probe AS (
  SELECT qid, bucket FROM (
    SELECT q.qid, c.bucket,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(c.centroid, q.qv), 4) DESC, c.bucket
           ) AS prank
    FROM q, cents c
  ) WHERE prank <= 2
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
      SELECT p.qid AS query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
      FROM probe p JOIN e ON e.label = p.bucket JOIN q ON q.qid = p.qid
      WHERE e.vec_id <> p.qid
    ) s
  ) WHERE rank <= 5
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
      SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
      FROM e, q WHERE e.vec_id <> q.qid
    ) s
  ) WHERE rank <= 5
)
SELECT x.query_id,
       CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
       round(count(i.neighbor_id) / 5.0, 4) AS recall_at_5
FROM exact x LEFT JOIN ivf i
  ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
GROUP BY 1
""",
    tags=("similarity", "llm", "stats"),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the 2-probe IVF tier against exact brute force, per
    query — the measure-don't-guess eval that tells you whether the
    probe count is set right BEFORE the 100 TB index build. Both tiers
    are this engine's own operators; the ground-truth side costs one
    brute-force pass over the (sampled) query set only."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    exact = S.cosine_topk(emb, queries, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = (
        S.ivf_topk(emb, queries, "vec_id", "embedding", "label", probes=2, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").alias("n_hits"),
            F.round(F.count("__hit") / F.lit(5.0), 4).alias("recall_at_5"),
        )
    )


@register(
    "quantize_embeddings",
    oracle=f"""
WITH e AS ({SQL_EMB}),
m AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) / 127 AS sc FROM e)
SELECT vec_id, CAST(pos AS BIGINT) AS pos,
       CAST(greatest(-127, least(127, round(x / sc))) AS INT) AS q,
       round(sc, 6) AS scale
FROM (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e), m
""",
    tags=("similarity", "llm"),
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding corpus
    (global max-|x| scale, exact — no fp tolerance needed): the 4×
    memory-compression pass before a 100 TB ANN index build."""
    return S.quantize_embeddings(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding")


# --- multimodal plumbing ----------------------------------------------------

@register(
    "multimodal_decode",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
""",
    tags=("multimodal", "llm"),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload pipeline: attach utf-8 payload + metadata struct,
    run the Arrow-batched mapInPandas decode kernel (deterministic stub;
    real decoders swap into the same plumbing). The one Python-touching
    operator in the engine — vectorized, partition-local."""
    docs = _t(spark, sf_dir, "documents")
    return M.decode_stub(M.attach_payload(docs, "text", "doc_id"))


@register(
    "multimodal_resize",
    oracle=f"""
WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n_bytes
           FROM documents),
r AS (SELECT doc_id, n_bytes,
             list_reduce(list_transform(generate_series(1, n_bytes, {M.RESIZE_STRIDE}),
                                        i -> substring(hx, (i - 1) * 2 + 1, 2)),
                         (a, b) -> a || b) AS resized_hx
      FROM p)
SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(length(resized_hx) // 2 AS BIGINT) AS n_resized,
       md5(resized_hx) AS resample_md5
FROM r
""",
    tags=("multimodal", "llm"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-fake image resize (every 4th payload byte) through
    the real Arrow mapInPandas plumbing — the oracle re-derives the
    resampled bytes with blob slicing, so the kernel's batch handling is
    checked end-to-end, not just its row count."""
    docs = _t(spark, sf_dir, "documents")
    return M.resize_images(M.attach_payload(docs, "text", "doc_id"), stride=M.RESIZE_STRIDE)


@register(
    "multimodal_frame_sample",
    oracle=f"""
WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
                  CAST((octet_length(encode(text)) - 1) // {M.FRAME_BYTES} + 1 AS INT) AS n_frames
           FROM documents),
k AS (SELECT doc_id, n_frames,
             list_reduce(list_transform(generate_series(0, n_frames - 1, {M.FRAME_EVERY_N}),
                                        i -> substring(hx, i * {M.FRAME_BYTES} * 2 + 1, {M.FRAME_BYTES} * 2)),
                         (a, b) -> a || b) AS kept_hx
      FROM p)
SELECT doc_id, n_frames,
       CAST((n_frames - 1) // {M.FRAME_EVERY_N} + 1 AS INT) AS n_kept,
       md5(kept_hx) AS sample_md5
FROM k
""",
    tags=("multimodal", "llm"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-fake video keyframe sampling: payload chunked into
    64-byte frames, every 4th kept, md5 over the concatenated sample —
    same mapInPandas plan an ffmpeg-backed kernel would run."""
    docs = _t(spark, sf_dir, "documents")
    return M.sample_frames(M.attach_payload(docs, "text", "doc_id"), every_n=M.FRAME_EVERY_N)


@register(
    "multimodal_exact_dedup",
    oracle="""
WITH p AS (
  SELECT doc_id, md5(text) AS content_md5,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
)
SELECT content_md5, n_bytes,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keeper_id
FROM p GROUP BY 1, 2
""",
    tags=("multimodal", "dedup", "llm"),
)
def q_multimodal_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical dedup over the BINARY payload column — the first
    pass of any image/audio ingest (identical files re-crawled under
    different ids) and the multimodal twin of text exact_dedup: md5
    over the raw payload bytes (JVM codegen on BinaryType — the hash
    never crosses into Python, unlike the decode kernels), fingerprint
    groupBy, keeper = smallest id. Every group is emitted (n_copies =
    1 rows included) so the result doubles as the payload manifest a
    content-addressed store ingests. Linear: one narrow scan + one
    fingerprint-keyed aggregate; payload bytes collapse to a 32-char
    key before the shuffle, so shuffle volume is id-sized no matter how
    large the blobs are — the property that matters when the column is
    4 MB images rather than text."""
    docs = _t(spark, sf_dir, "documents")
    p = M.attach_payload(docs, "text", "doc_id")
    return (
        p.select("doc_id", F.md5("payload").alias("content_md5"),
                 F.octet_length("payload").cast("long").alias("n_bytes"))
        .groupBy("content_md5", "n_bytes")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_id"),
        )
    )


@register(
    "vocab_build",
    oracle=f"""
WITH toks AS ({SQL_DOCS_TOKS}),
tf AS (SELECT doc_id, t AS token, CAST(count(*) AS BIGINT) AS tf
       FROM (SELECT doc_id, unnest(toks) AS t FROM toks) GROUP BY 1, 2),
v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS corpus_tf, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY 1)
SELECT token, corpus_tf, df,
       CAST(row_number() OVER (ORDER BY corpus_tf DESC, token) AS BIGINT) AS term_id
FROM v
""",
    tags=("text", "llm"),
)
def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build: distinct tokens ranked into dense ids
    by corpus frequency (lexical tiebreak ⇒ reproducible ids)."""
    docs = _t(spark, sf_dir, "documents")
    return X.build_vocab(docs, "text", "doc_id")


@register(
    "doc_term_matrix",
    oracle=f"""
WITH toks AS ({SQL_DOCS_TOKS}),
tf AS (SELECT doc_id, t AS token, CAST(count(*) AS BIGINT) AS tf
       FROM (SELECT doc_id, unnest(toks) AS t FROM toks) GROUP BY 1, 2),
v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS corpus_tf FROM tf GROUP BY 1),
vi AS (SELECT token, CAST(row_number() OVER (ORDER BY corpus_tf DESC, token) AS BIGINT) AS term_id FROM v)
SELECT tf.doc_id, vi.term_id, tf.tf
FROM tf JOIN vi USING (token)
""",
    tags=("text", "llm"),
)
def q_doc_term_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse doc-term feature triples over the frequency-ranked
    vocabulary — one tf shuffle plus a broadcast of the vocab."""
    docs = _t(spark, sf_dir, "documents")
    return X.doc_term_matrix(docs, "text", "doc_id")


# --- corpus hygiene: decontamination + boilerplate ---------------------------

@register(
    "decontaminate",
    oracle=f"""
WITH sh AS ({SQL_DOCS_SHINGLES}),
ev AS (SELECT DISTINCT unnest(hs) AS ngram_hash FROM sh WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, unnest(hs) AS ngram_hash FROM sh WHERE doc_id % 50 <> 0)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM tr JOIN ev USING (ngram_hash)
GROUP BY 1
""",
    tags=("hygiene", "llm"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap): every
    50th document plays the held-out eval set; training docs sharing any
    word-3-gram with it are flagged with their distinct-hit count. Plan:
    eval n-gram hashes (small) semi-join the exploded corpus n-grams —
    one shuffle, broadcast-able eval side."""
    from is3107datapipelineproject_spark.operators.contamination import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(tr, ev, "text", "doc_id", k=3)


@register(
    "boilerplate_flag",
    oracle=f"""
WITH sh AS ({SQL_DOCS_SHINGLES}),
ex AS (SELECT doc_id, unnest(hs) AS ngram_hash FROM sh),
freq AS (SELECT ngram_hash, count(*) AS doc_freq FROM ex GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
hot AS (SELECT ngram_hash FROM freq, n WHERE doc_freq >= n_docs * 0.01)
SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_boiler
FROM ex JOIN hot USING (ngram_hash)
GROUP BY 1
""",
    tags=("hygiene", "llm"),
)
def q_boilerplate_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection: flag documents containing a
    word-3-gram whose document frequency reaches 1% of the corpus
    (navigation chrome / license headers at web scale). Two-pass plan:
    df-per-n-gram aggregate, then a broadcast semi-join flags carriers —
    the hot set is tiny by construction at any corpus size."""
    from is3107datapipelineproject_spark.operators.contamination import boilerplate_docs

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_docs(docs, "text", "doc_id", k=3, min_doc_share=0.01)


# --- training-sequence packing ----------------------------------------------

@register(
    "pack_sequences",
    oracle=f"""
WITH t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM ({SQL_DOCS_TOKS})),
c AS (SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM t)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS seq_id,
       CAST(start_offset % 512 AS BIGINT) AS seq_offset
FROM c
""",
    tags=("packing", "llm"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: each doc's global token offset, training
    sequence id (512-token chunks), and in-sequence offset, in doc_id
    order. The oracle is the single-partition window cumsum; the engine
    runs the two-level distributed prefix sum (operators.packing) —
    identical output, parallel plan."""
    from is3107datapipelineproject_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.size(X.ws_tokens("text")).cast("long").alias("n_tokens"))
    return pack_sequences(t, "doc_id", "n_tokens", seq_len=512, n_buckets=32)


# --- line-level dedup + JSONL ingest ----------------------------------------

@register(
    "line_dedup",
    oracle="""
WITH ln AS (
  SELECT a.doc_id // 4 AS page_id, a.doc_id % 4 AS pos, b.text AS line
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 199
),
rn AS (SELECT *, row_number() OVER (PARTITION BY line ORDER BY page_id, pos) AS r FROM ln)
SELECT page_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(CASE WHEN r = 1 THEN 1 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN r = 1 THEN line END, chr(10) ORDER BY pos), '')
         AS text_clean
FROM rn GROUP BY 1
""",
    tags=("hygiene", "llm"),
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact line dedup (RefinedWeb/CCNet boilerplate-line
    rule): multi-line pages are synthesized from a 199-line pool (every
    4 documents form one page whose lines are drawn by ``doc_id % 199``,
    planting the cross-page duplicates a web crawl has), then each
    distinct line is kept only at its first ``(page_id, pos)``
    occurrence and pages are rebuilt without the dropped copies. The
    keep-first decision is a combinable min-aggregate, NOT a window over
    the line key — hot boilerplate lines collapse map-side instead of
    serializing through one reducer (operators/contamination.py:
    dedup_lines). The oracle states the same semantics with the window
    form DuckDB can run single-node."""
    from is3107datapipelineproject_spark.operators.contamination import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    pool = docs.select(F.col("doc_id").alias("pool_id"), F.col("text").alias("line"))
    lines = (
        docs.select(
            F.floor(F.col("doc_id") / 4).cast("long").alias("page_id"),
            (F.col("doc_id") % 4).cast("long").alias("pos"),
            (F.col("doc_id") % 199).alias("pool_id"),
        )
        .join(F.broadcast(pool.filter(F.col("pool_id") < 199)), "pool_id")
    )
    pages = lines.groupBy("page_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("line")))),
                lambda x: x["line"],
            ),
        ).alias("text")
    )
    return dedup_lines(pages, "text", "page_id")


@register(
    "scan_jsonl",
    oracle="""
WITH j AS (
  SELECT '{"k":' || o_orderkey || ',"c":' || o_custkey || ',"p":"' || o_orderpriority || '"}' AS line,
         o_orderkey % 97 = 0 AS corrupt
  FROM orders
),
l AS (SELECT CASE WHEN corrupt THEN substr(line, 1, len(line) - 4) ELSE line END AS line FROM j)
SELECT CASE WHEN json_valid(line) THEN CAST(line ->> '$.k' AS BIGINT) END AS k,
       CASE WHEN json_valid(line) THEN CAST(line ->> '$.c' AS BIGINT) END AS c,
       CASE WHEN json_valid(line) THEN line ->> '$.p' END AS p,
       NOT json_valid(line) AS is_corrupt
FROM l
""",
    tags=("source", "llm"),
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest with corrupt-record tolerance — the LLM-corpus
    analog of the reference's corrupt-input skip (S6, reference
    main_dag.py's parse guard): JSON lines are synthesized from orders
    (every 97th truncated mid-string), parsed schema-on-read with
    ``from_json`` in PERMISSIVE mode, and malformed lines land intact in
    the ``_corrupt_record`` side channel instead of failing the job —
    the quarantine-don't-crash contract a 100 TB crawl ingest needs.
    Entirely JVM column expressions; the oracle re-derives the same
    lines and routes them through DuckDB's json_valid."""
    orders = _t(spark, sf_dir, "orders")
    line = F.concat(
        F.lit('{"k":'), F.col("o_orderkey").cast("string"),
        F.lit(',"c":'), F.col("o_custkey").cast("string"),
        F.lit(',"p":"'), F.col("o_orderpriority"), F.lit('"}'),
    )
    truncated = F.substring(line, 1, F.length(line) - 4)
    raw = orders.select(
        F.when(F.col("o_orderkey") % 97 == 0, truncated).otherwise(line).alias("line")
    )
    parsed = raw.select(
        F.from_json(
            "line",
            "k long, c long, p string, _corrupt_record string",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r")
    )
    return parsed.select(
        F.col("r.k").alias("k"),
        F.col("r.c").alias("c"),
        F.col("r.p").alias("p"),
        F.col("r._corrupt_record").isNotNull().alias("is_corrupt"),
    )


# --- Python UDTF surface ----------------------------------------------------

@register(
    "token_runs",
    oracle=f"""
WITH t AS (SELECT doc_id, unnest(toks) AS tok,
                  generate_subscripts(toks, 1) - 1 AS pos
           FROM ({SQL_DOCS_TOKS})),
m AS (SELECT doc_id, tok, pos,
             CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) = tok
                  THEN 0 ELSE 1 END AS brk
      FROM t),
s AS (SELECT doc_id, tok, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
      FROM m),
r AS (SELECT doc_id, min(pos) AS start_pos, min(tok) AS run_token,
             count(*) AS run_len
      FROM s GROUP BY doc_id, seg)
SELECT doc_id, CAST(start_pos AS BIGINT) AS start_pos, run_token,
       CAST(run_len AS BIGINT) AS run_len
FROM r WHERE run_len >= 2
""",
    tags=("text", "udtf", "llm"),
)
def q_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.9): maximal repeated-token runs per doc
    (the run-length segmentation behind stutter/boilerplate detection),
    emitted by a table-valued function in a LATERAL join — one input
    row fans out to 0..n output rows, the shape plain UDFs can't
    return. The UDTF class is a LOCAL definition (cloudpickle ships it
    by value; workers never import this repo — same contract as the
    mapInPandas kernels). Run-length scan is O(tokens) per row and
    partition-local: the lateral join adds NO shuffle, so the operator
    is scan-bound at any corpus size. The oracle states the same
    semantics relationally (lag-breaks → segment cumsum → group), which
    DuckDB runs single-node.

    A UDTF is the right tool ONLY for fan-out logic like this; for 1:1
    row transforms the Arrow-batched Pandas UDF path (multimodal.py)
    stays 10-100x faster."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="start_pos BIGINT, run_token STRING, run_len BIGINT")
    class TokenRuns:
        def eval(self, toks):
            if not toks:
                return
            start = 0
            prev = toks[0]
            for i in range(1, len(toks) + 1):
                cur = toks[i] if i < len(toks) else None
                if cur != prev:
                    if i - start >= 2:
                        yield (start, prev, i - start)
                    start, prev = i, cur

    spark.udtf.register("token_runs_udtf", TokenRuns)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", X.ws_tokens("text").alias("toks")
    )
    return spark.sql(
        "SELECT d.doc_id, r.start_pos, r.run_token, r.run_len "
        "FROM {d} d, LATERAL token_runs_udtf(d.toks) r",
        d=docs,
    )


@register(
    "incremental_neardup",
    oracle=f"""
WITH toks AS ({SQL_DOCS_TOKS}),
sh AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> {SQL_H28.format(x='s')})) AS hs
       FROM (SELECT doc_id, {SQL_SHINGLES} AS shingles FROM toks)),
sig AS (SELECT doc_id, hs, {_MH_COLS} FROM sh),
bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band FROM sig),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM bands n JOIN bands o ON n.band = o.band
  WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
)
SELECT new_id, old_id,
       round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
             / (CAST(len(x.hs) + len(y.hs) AS DOUBLE) - len(list_intersect(x.hs, y.hs))),
             4) AS jaccard
FROM cand JOIN sh x ON x.doc_id = new_id JOIN sh y ON y.doc_id = old_id
WHERE round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
            / (CAST(len(x.hs) + len(y.hs) AS DOUBLE) - len(list_intersect(x.hs, y.hs))),
            4) >= 0.8
""",
    tags=("dedup", "incremental", "llm"),
)
def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the 20%% of docs with ``doc_id %% 5 == 0``
    play the arriving batch, checked for near-duplicates against the
    rest of the corpus (never old×old). The batch's LSH bands broadcast
    onto the corpus-side band stream — zero corpus shuffle
    (operators/dedup.py::incremental_neardup)."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    return D.incremental_neardup(old, new, "text", "doc_id", threshold=0.8)


# --- count-min sketch heavy hitters ------------------------------------------

@register(
    "cms_heavy_hitters",
    oracle=f"""
WITH toks AS (SELECT unnest({SQL_TOKS}) AS token FROM documents),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1)
SELECT token, cnt, TRUE AS no_undercount, TRUE AS within_eps
FROM c ORDER BY cnt DESC, token LIMIT 20
""",
    tags=("sketch", "text", "llm"),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters with a hash-checkable accuracy
    contract (same pattern as hll_mergeable_sketch): the top-20 exact
    token counts are emitted alongside two booleans the sketch must
    satisfy — `no_undercount` (CMS estimates never fall below truth, a
    structural guarantee) and `within_eps` (estimate ≤ exact + (2/w)·N,
    the CMS error bound at w=2048). The oracle emits the exact counts
    with TRUE/TRUE, so the row hashes only if the sketch obeys both
    bounds. Estimates are md5-hash deterministic — no flakiness.

    Plan: token counts are one partial-agg shuffle (localCheckpointed:
    the three consumers — total, top-k, sketch build — must not
    re-tokenize the corpus); the sketch is d×w = 8192 rows, broadcast
    for probing.
    """
    from is3107datapipelineproject_spark.operators import sketches as K

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.ws_tokens("text")).alias("token"))
    counts = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("cnt").alias("n_total"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(20)
    sketch = K.cms_build(counts, "token", "cnt")
    est = K.cms_estimate(sketch, top.select("token"), "token")
    return (
        top.join(est, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "cnt",
            (F.col("cms_est") >= F.col("cnt")).alias("no_undercount"),
            (
                F.col("cms_est")
                <= F.col("cnt") + F.lit(2.0 / K.CMS_W) * F.col("n_total")
            ).alias("within_eps"),
        )
    )


@register(
    "quantile_sketch",
    oracle="""
WITH b AS (
  SELECT CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
),
c AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM b),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b),
qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) t(q))
SELECT q, CAST((min(bin) + 1) * 100.0 AS DOUBLE) AS est_upper
FROM c, tot, qs
WHERE c.cum >= CAST(ceil(q * tot.n) AS BIGINT)
GROUP BY q
""",
    tags=("sketch", "quantile"),
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-boundary quantile sketch (operators/sketches.py):
    price p50/p90/p99 read off a width-100 histogram that is built
    PER-SHARD (l_orderkey % 4 — the per-day/per-shard ingest shape) and
    merged by union+re-sum. Fixed boundaries make shard-merge equal the
    global build bit-for-bit (asserted in tests/test_sketches.py), so
    the estimate is deterministic and the oracle replays it; error is
    structurally ≤ one bin width. The cumulative window runs over the
    ≤(range/width)-row sketch, never the data."""
    from is3107datapipelineproject_spark.operators import sketches as K

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    shards = [
        K.hist_build(li.filter(F.col("l_orderkey") % 4 == i), "l_extendedprice")
        for i in range(4)
    ]
    merged = K.hist_merge(*shards)
    return K.hist_quantiles(merged, [0.5, 0.9, 0.99])


_BM25_TERMS = ("hash", "join", "scan", "vector", "merge")


def _bm25_oracle(terms=_BM25_TERMS, k1=1.2, b=0.75, top_n=20) -> str:
    """SQL twin generated from the SAME constants as the Spark plan —
    term list, k1/b literals, and expression order are shared, so the
    two engines evaluate an identical float expression tree."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i, t in enumerate(terms)
    )
    tf_cols = ", ".join(
        f"max(CASE WHEN t = '{t}' THEN tf END) AS tf{i}" for i, t in enumerate(terms)
    )
    score = " + ".join(
        f"COALESCE(ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1 + 1.0}) / (tf{i} + {k1} * ({1.0 - b} + {b} * dl / (sum_dl / n_docs))), 0.0)"
        for i in range(len(terms))
    )
    return f"""
WITH base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM ({SQL_DOCS_TOKS})),
tf AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
       FROM (SELECT doc_id, dl, unnest(toks) AS t FROM base)
       WHERE t IN ({in_list}) GROUP BY 1, 2, 3),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM base),
dfs AS (SELECT {df_cols} FROM tf),
piv AS (SELECT doc_id, dl, {tf_cols} FROM tf GROUP BY 1, 2),
sc AS (SELECT doc_id, round({score}, 4) AS score FROM piv CROSS JOIN stats CROSS JOIN dfs)
SELECT doc_id, score FROM sc WHERE score > 0 ORDER BY score DESC, doc_id LIMIT {top_n}
"""


@register("bm25_search", oracle=_bm25_oracle(), tags=("text", "search", "llm"))
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a 5-term query under BM25
    (operators/text.py::bm25_search) — the lexical search primitive.
    The corpus-side explode is filtered to the query terms before any
    shuffle (inverted-index probe), df/N/avgdl attach as broadcast
    1-row aggregates, and per-term partials sum in fixed expression
    order (never a float groupBy-sum) so the ranking is
    engine-reproducible after 4-dp rounding."""
    docs = _t(spark, sf_dir, "documents")
    return X.bm25_search(docs, "text", "doc_id", _BM25_TERMS)


# --- bloom-filter decontamination --------------------------------------------

def _bloom_oracle() -> str:
    from is3107datapipelineproject_spark.operators.sketches import BLOOM_D, BLOOM_M

    bit = (
        "CAST('0x' || substr(md5('bf' || j || '|' || CAST(g AS VARCHAR)), 1, 7) AS BIGINT)"
        f" % {BLOOM_M}"
    )
    return f"""
WITH sh AS ({SQL_DOCS_SHINGLES}),
evg AS (SELECT DISTINCT unnest(hs) AS g FROM sh WHERE doc_id % 50 = 0),
bits AS (SELECT DISTINCT j, {bit} AS bit
         FROM evg, generate_series(0, {BLOOM_D - 1}) AS t(j)),
trg AS (SELECT doc_id, unnest(hs) AS g FROM sh WHERE doc_id % 50 <> 0),
probe AS (
  SELECT g FROM (
    SELECT tg.g, count(*) AS setb
    FROM (SELECT g, j, {bit} AS bit
          FROM (SELECT DISTINCT g FROM trg), generate_series(0, {BLOOM_D - 1}) AS t(j)) tg
    JOIN bits ON bits.j = tg.j AND bits.bit = tg.bit
    GROUP BY tg.g
  ) WHERE setb = {BLOOM_D}
)
SELECT trg.doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
FROM trg JOIN probe USING (g)
GROUP BY 1
"""


@register("bloom_contamination", oracle=_bloom_oracle(), tags=("hygiene", "sketch", "llm"))
def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the at-ingest shape of
    `decontaminate`: the eval set's 3-gram hashes are folded into a
    CONSTANT-SIZE bit set (bloom_build) that ships to every executor
    once, and the corpus probes it partition-locally; a doc's
    `n_bloom_hits` counts its 3-grams whose d bits are all set. No
    false negatives (every truly contaminated 3-gram hits), false
    positives at the classic bloom rate — and the oracle replicates the
    ENTIRE filter bit-for-bit in SQL, so the check is exact, not a
    tolerance band. At 100 TB the filter stays KBs while the exact
    semi-join's build side grows with the benchmark suite."""
    from is3107datapipelineproject_spark.operators import sketches as K
    from is3107datapipelineproject_spark.operators.contamination import _doc_ngram_hashes

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    ev_g = _doc_ngram_hashes(ev, "text", "doc_id", 3).select(
        F.col("ngram_hash").cast("string").alias("g")
    ).distinct()
    bloom = K.bloom_build(ev_g, "g")
    tr_g = _doc_ngram_hashes(tr, "text", "doc_id", 3).select(
        "doc_id", F.col("ngram_hash").cast("string").alias("g")
    )
    flagged = K.bloom_probe(bloom, tr_g, "g").filter(F.col("bloom_hit"))
    return flagged.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bloom_hits"))


# --- corpus version diff -----------------------------------------------------

@register(
    "corpus_diff",
    oracle=f"""
WITH o AS (
  SELECT doc_id, md5({SQL_NORM}) AS fp FROM documents WHERE doc_id % 7 <> 0
),
n AS (
  SELECT doc_id, md5({SQL_NORM}) AS fp
  FROM (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' edited in v2'
                            ELSE text END AS text
        FROM documents WHERE doc_id % 11 <> 0)
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.fp <> n.fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
""",
    tags=("incremental", "llm"),
)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff: version 1 is every doc_id not divisible by 7;
    version 2 drops every 11th doc and edits every 5th doc's text — so
    all four statuses occur. The diff classifies each id added / removed
    / changed / unchanged by normalized-content fingerprint — content
    `changed` detection is what key-based CDC (incremental_merge) cannot
    see. One narrow fingerprint projection per side + one co-partitioned
    full-outer join."""
    from is3107datapipelineproject_spark.operators.incremental import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" edited in v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return corpus_diff(old, new)


# --- the ingest loop as ONE declarative plan --------------------------------

_QUALITY_EXPR = """round(0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
       + 0.3 * CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
       + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text,
             '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE) / length(text)),
       4)"""


@register(
    "incremental_curation",
    oracle=f"""
WITH toks AS ({SQL_DOCS_TOKS}),
sh AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> {SQL_H28.format(x='s')})) AS hs
       FROM (SELECT doc_id, {SQL_SHINGLES} AS shingles FROM toks)),
sig AS (SELECT doc_id, hs, {_MH_COLS} FROM sh),
bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band FROM sig),
q AS (SELECT t.doc_id, {_QUALITY_EXPR} AS quality
      FROM (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents) t(doc_id, text, toks)),
clean AS (SELECT doc_id, quality FROM q WHERE doc_id % 5 = 0 AND quality >= 0.4),
dupped AS (
  SELECT DISTINCT n.doc_id AS new_id
  FROM bands n JOIN bands o ON n.band = o.band
  JOIN sh x ON x.doc_id = n.doc_id JOIN sh y ON y.doc_id = o.doc_id
  WHERE n.doc_id IN (SELECT doc_id FROM clean) AND o.doc_id % 5 <> 0
    AND round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
              / (CAST(len(x.hs) + len(y.hs) AS DOUBLE) - len(list_intersect(x.hs, y.hs))),
              4) >= 0.8
)
SELECT doc_id, quality FROM clean WHERE doc_id NOT IN (SELECT new_id FROM dupped)
""",
    tags=("curation", "incremental", "llm"),
)
def q_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole ingest loop as one declarative plan — what a corpus
    pipeline runs on every arriving batch: (1) quality-gate the arrivals
    (narrow), (2) near-dup-check survivors against the EXISTING corpus
    (batch side broadcast, corpus never shuffled — incremental_neardup's
    plan), (3) admit arrivals with no corpus near-dup. The 20% of docs
    with doc_id % 5 == 0 play the arriving batch. Returns
    ``(doc_id, quality)`` of admitted docs.

    Composing the three stages in one DataFrame lets Catalyst fuse the
    quality projection into the arrivals scan and prune columns through
    the anti-join — the stages cost one corpus pass + one pair shuffle,
    not three pipeline jobs."""
    from is3107datapipelineproject_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    arrivals = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    clean = arrivals.select(
        "doc_id", "text", F.round(quality_score("text"), 4).alias("quality")
    ).filter(F.col("quality") >= 0.4)
    pairs = D.incremental_neardup(corpus, clean, "text", "doc_id", threshold=0.8)
    kept = clean.join(
        pairs.select(F.col("new_id").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    return kept.select("doc_id", "quality")


# --- embedding near-dup with scale-controlled LSH cells ----------------------

_LSH_BITS = 8
_SQL_CELL = " + ".join(
    f"(CASE WHEN v[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)" for j in range(_LSH_BITS)
)


@register(
    "embedding_neardup_lsh",
    oracle=f"""
WITH e AS ({SQL_EMB}),
c AS (SELECT vec_id, v, CAST({_SQL_CELL} AS INT) AS cell FROM e)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
""",
    tags=("similarity", "dedup", "llm"),
)
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with SCALE-CONTROLLED blocking — the 100 TB
    formulation of `embedding_neardup`: the bucket is a sign-bit LSH
    cell (bit j = sign of dimension j, 2^8 = 256 cells here) instead of
    a fixed coarse label, so per-bucket quadratic work is corpus/2^bits
    and ``bits`` is the granularity knob that grows with log(corpus).
    Near-identical vectors agree on every sign except dimensions near
    zero — the random-hyperplane LSH recall argument with axis planes.
    Same plan shape (bucket equi-join, quadratic confined to the cell),
    plan-lint asserted like every registry entry."""
    from functools import reduce
    from operator import add

    v = F.col("embedding")
    cell = reduce(
        add,
        [
            F.when(F.element_at(v, j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(_LSH_BITS)
        ],
    )
    emb = _t(spark, sf_dir, "embeddings").withColumn("cell", cell.cast("int"))
    return S.embedding_neardup_pairs(emb, "vec_id", "embedding", "cell", threshold=0.4)


# --- per-doc top-k similar (LSH retrieval shape) ----------------------------

@register(
    "minhash_topk_similar",
    oracle=f"""
WITH toks AS ({SQL_DOCS_TOKS}),
sh AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> {SQL_H28.format(x='s')})) AS hs
       FROM (SELECT doc_id, {SQL_SHINGLES} AS shingles FROM toks)),
sig AS (SELECT doc_id, hs, {_MH_COLS} FROM sh),
bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc1, doc2,
         round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
               / (CAST(len(x.hs) + len(y.hs) AS DOUBLE) - len(list_intersect(x.hs, y.hs))),
               4) AS jaccard
  FROM cand JOIN sh x ON x.doc_id = doc1 JOIN sh y ON y.doc_id = doc2
  WHERE round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
              / (CAST(len(x.hs) + len(y.hs) AS DOUBLE) - len(list_intersect(x.hs, y.hs))),
              4) >= 0.05
),
sym AS (
  SELECT doc1 AS doc_id, doc2 AS similar_id, jaccard FROM scored
  UNION ALL
  SELECT doc2, doc1, jaccard FROM scored
)
SELECT doc_id, similar_id, jaccard, rnk FROM (
  SELECT doc_id, similar_id, jaccard,
         CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY jaccard DESC, similar_id) AS INT) AS rnk
  FROM sym
) WHERE rnk <= 3
""",
    tags=("dedup", "similarity", "llm"),
)
def q_minhash_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 most similar documents — the LSH RETRIEVAL
    shape ('show me this doc's near-relatives'), as opposed to the
    threshold-pair DEDUP shape: band-collision candidates get exact
    Jaccard, each direction of a pair feeds its endpoint's ranking, and
    a per-doc window keeps the best 3 (WindowGroupLimit prunes the rank
    pre-shuffle). Low 0.05 floor: retrieval wants weak relatives too;
    candidate volume is still band-bounded, never all-pairs."""
    pairs = D.minhash_neardup_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.05)
    sym = pairs.select(
        F.col("doc1").alias("doc_id"), F.col("doc2").alias("similar_id"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("doc2").alias("doc_id"), F.col("doc1").alias("similar_id"), "jaccard"
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("jaccard").desc(), F.col("similar_id").asc())
    return (
        sym.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "decontaminate_fixed_bench",
    oracle=f"""
WITH sh AS ({SQL_DOCS_SHINGLES}),
ev AS (SELECT DISTINCT unnest(hs) AS ngram_hash FROM sh WHERE doc_id < 100),
tr AS (SELECT doc_id, unnest(hs) AS ngram_hash FROM sh WHERE doc_id >= 100)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM tr JOIN ev USING (ngram_hash)
GROUP BY 1
""",
    tags=("hygiene", "llm"),
)
def q_decontaminate_fixed_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a FIXED-SIZE benchmark (docs with id
    < 100 play a frozen eval suite) — the deployment shape, where the
    broadcast n-gram set is CONSTANT as the corpus grows, unlike the
    `decontaminate` twin whose modulo eval split grows with the corpus.
    At any corpus scale the cost is one corpus-side explode probed
    against a fixed broadcast set — work ∼ corpus × benchmark density,
    with the benchmark factor pinned."""
    from is3107datapipelineproject_spark.operators.contamination import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") < 100)
    tr = docs.filter(F.col("doc_id") >= 100)
    return decontaminate(tr, ev, "text", "doc_id", k=3)


# --- deterministic k-means + SemDeDup --------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2
SEMDEDUP_THR = 0.3  # demo threshold; synthetic embeddings are well-spread
SEMDEDUP_CAP = 64  # hot-cluster cap: low enough that sf>=0.01 exercises BOTH paths


def _km_assign(name: str, cents: str, src: str) -> str:
    """Shared nearest-centroid CTE (d2 rounded to 6 before the argmin,
    ties to the smaller cluster id) — used by both the plain and the
    train/assign-split k-means oracle chains so the Lloyd semantics can
    never drift between them."""
    d2 = (
        f"round(list_sum(list_transform(list_zip({src}.v, i.c),"
        " x -> (x[1]-x[2])*(x[1]-x[2]))), 6)"
    )
    return f"""{name} AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT {src}.vec_id, i.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY {src}.vec_id ORDER BY {d2} ASC, i.cid ASC) AS rn
    FROM {src}, {cents} i
  ) WHERE rn = 1
)"""


def _km_update(name: str, asg: str) -> str:
    """Shared decimal-exact centroid-mean CTE (training rows = ``e``)."""
    return f"""{name}_long AS (
  SELECT a.cid, u.pos, round(CAST(sum(CAST(u.x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS cc
  FROM {asg} a JOIN (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e) u USING (vec_id)
  GROUP BY 1, 2
),
{name} AS (SELECT cid, list(cc ORDER BY pos) AS c FROM {name}_long GROUP BY 1)"""


def _kmeans_ctes(k: int, iters: int) -> tuple[str, str]:
    """Unrolled Lloyd iteration CTE chain mirroring
    operators.clustering.kmeans_assign step-for-step (decimal-exact
    centroid means, d2 rounded to 6 before the argmin, ties to the
    smaller cluster id). Returns (cte_sql, final_assignment_name)."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
  FROM e ORDER BY vec_id LIMIT {k}
)""",
    ]
    for i in range(iters):
        parts.append(_km_assign(f"a{i}", f"c{i}", "e"))
        parts.append(_km_update(f"c{i+1}", f"a{i}"))
    parts.append(_km_assign(f"a{iters}", f"c{iters}", "e"))
    return ",\n".join(parts), f"a{iters}"


_KM_CTES, _KM_FINAL = _kmeans_ctes(KMEANS_K, KMEANS_ITERS)


def _kmeans_ctes_split(k: int, iters: int, train_where: str) -> tuple[str, str]:
    """:func:`_kmeans_ctes` with a TRAIN/ASSIGN split: Lloyd trains on
    the ``train_where`` subset of the embeddings (``e``), the FINAL
    assignment runs over the full table (``eall``) — mirroring an
    index built on the base corpus whose frozen centroids later route
    appended arrivals. Returns (cte_sql, final_assignment_name).
    Shares :func:`_km_assign` / :func:`_km_update` with the plain
    chain, so a Lloyd-semantics fix applies to both oracles at once."""
    parts = [
        "eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"e AS (SELECT * FROM eall WHERE {train_where})",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
  FROM e ORDER BY vec_id LIMIT {k}
)""",
    ]
    for i in range(iters):
        parts.append(_km_assign(f"a{i}", f"c{i}", "e"))
        parts.append(_km_update(f"c{i+1}", f"a{i}"))
    parts.append(_km_assign(f"a{iters}", f"c{iters}", "eall"))
    return ",\n".join(parts), f"a{iters}"


@register(
    "kmeans_assign",
    oracle=f"""
WITH {_KM_CTES}
SELECT vec_id, cid AS cluster, d2 FROM {_KM_FINAL}
""",
    tags=("clustering", "similarity", "llm"),
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=8, 2 update rounds, init = the 8
    smallest vec_ids) — the clustering stage a SemDeDup/IVF pipeline
    runs before its quadratic-within-bucket passes. Assignment is a
    narrow fold over the broadcast 1-row codebook (no k x row expansion,
    corpus never shuffled); each update is one dim x N hash-aggregate
    with decimal-exact means (operators/clustering.py::kmeans_assign)."""
    from is3107datapipelineproject_spark.operators.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "vec_id", "embedding", k=KMEANS_K, iters=KMEANS_ITERS)


_SIL_D2 = (
    "round(list_sum(list_transform(list_zip(e.v, i.c), "
    "x -> (x[1]-x[2])*(x[1]-x[2]))), 6)"
)


@register(
    "cluster_silhouette",
    oracle=f"""
WITH {_KM_CTES},
d_all AS (
  SELECT vec_id, cid, d2, rn FROM (
    SELECT e.vec_id, i.cid, {_SIL_D2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_SIL_D2} ASC, i.cid ASC) AS rn
    FROM e, c{KMEANS_ITERS} i
  ) WHERE rn <= 2
),
top2 AS (
  SELECT a.vec_id, a.cid AS cluster, a.d2 AS d2_own, b.d2 AS d2_alt
  FROM d_all a JOIN d_all b USING (vec_id)
  WHERE a.rn = 1 AND b.rn = 2
),
sil AS (
  SELECT cluster,
         CASE WHEN d2_alt <= 0 THEN 0.0
              ELSE round(1.0 - sqrt(d2_own / d2_alt), 6) END AS s
  FROM top2
)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
       round(sum(s) / count(*), 4) AS mean_silhouette
FROM sil GROUP BY cluster
""",
    tags=("clustering", "diagnostics", "llm"),
)
def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette — the cluster-quality audit
    run before trusting k-means as a SemDeDup/IVF blocking key: a point
    scores 1 - sqrt(d2_own/d2_alt) against its nearest and second-
    nearest centroids (the centroid-based silhouette of Hruschka et
    al.; b >= a by argmin construction, so (b-a)/max(a,b) collapses to
    1 - a/b in the distance domain). One narrow fold per point carries
    (best, second-best) through the SAME rounded-d2/smaller-cid tie
    rule as assignment (operators/clustering.py::assign_top2), so the
    oracle's rank-2 window row is replayed exactly; the corpus is never
    shuffled and the only aggregate is k rows out. Per-point s is
    rounded to 6dp before the mean (sum order across partitions then
    cannot move the 4dp-rounded per-cluster mean)."""
    from is3107datapipelineproject_spark.operators.clustering import (
        assign_top2,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=KMEANS_K, iters=KMEANS_ITERS)
    t2 = assign_top2(emb, "vec_id", "embedding", cents)
    s = F.when(F.col("d2_alt") <= 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.sqrt(F.col("d2_own") / F.col("d2_alt")), 6)
    )
    return (
        t2.withColumn("s", s)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.sum("s") / F.count(F.lit(1)), 4).alias("mean_silhouette"),
        )
    )


@register(
    "semantic_dedup",
    oracle=f"""
WITH {_KM_CTES},
t AS (SELECT a.vec_id, a.cid AS cluster, e.v FROM {_KM_FINAL} a JOIN e USING (vec_id)),
sz AS (SELECT cluster, count(*) AS csz FROM t GROUP BY 1),
dup_small AS (
  SELECT DISTINCT b.vec_id
  FROM t a JOIN t b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN sz ON sz.cluster = a.cluster
  WHERE sz.csz <= {SEMDEDUP_CAP}
    AND round(list_cosine_similarity(a.v, b.v), 4) >= {SEMDEDUP_THR}
),
ctr AS (
  SELECT t.cluster, min(t.vec_id) AS cvid
  FROM t JOIN sz USING (cluster) WHERE sz.csz > {SEMDEDUP_CAP} GROUP BY 1
),
dup_big AS (
  SELECT b.vec_id
  FROM t b JOIN ctr ON b.cluster = ctr.cluster AND b.vec_id > ctr.cvid
  JOIN t c ON c.vec_id = ctr.cvid
  WHERE round(list_cosine_similarity(b.v, c.v), 4) >= {SEMDEDUP_THR}
),
dup AS (SELECT vec_id FROM dup_small UNION SELECT vec_id FROM dup_big)
SELECT t.vec_id, t.cluster, (dup.vec_id IS NULL) AS is_kept
FROM t LEFT JOIN dup USING (vec_id)
""",
    tags=("clustering", "dedup", "llm"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings,
    then inside each cluster drop any vector whose cosine to a
    smaller-id cluster-mate is >= threshold. The cluster is the blocking
    key confining the quadratic pair search
    (operators/clustering.py::semantic_dedup); at 100 TB pick
    k ~ sqrt(N) so per-cluster work stays bounded, the same granularity
    contract as embedding_neardup_pairs. Clusters above SEMDEDUP_CAP
    switch to an O(n) star comparison against their min-id member (the
    hot-cluster guard every other blocked family carries); the cap is
    set low so sf>=0.01 exercises the quadratic AND star paths, and the
    oracle replays the same routing."""
    from is3107datapipelineproject_spark.operators.clustering import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        threshold=SEMDEDUP_THR,
        max_cluster=SEMDEDUP_CAP,
    )


# cap for the incremental twin: the OLD side is 4/5 of the corpus, so the
# one-shot's 64 would leave every sf0.01 cluster on the quadratic path —
# 50 splits the old cluster sizes (40..61 at sf0.01) so the driver oracle
# exercises BOTH routings, the same calibration SEMDEDUP_CAP makes for
# the full corpus.
ISN_CAP = 50


def _isn_oracle() -> str:
    ctes, final = _kmeans_ctes_split(KMEANS_K, KMEANS_ITERS, "vec_id % 5 <> 0")
    return f"""
WITH {ctes},
t AS (SELECT a.vec_id, a.cid AS cluster, eall.v FROM {final} a JOIN eall USING (vec_id)),
oldc AS (SELECT * FROM t WHERE vec_id % 5 <> 0),
newb AS (SELECT * FROM t WHERE vec_id % 5 = 0),
sz AS (SELECT cluster, count(*) AS csz FROM oldc GROUP BY 1),
small AS (
  SELECT n.vec_id AS new_id, o.vec_id AS old_id,
         round(list_cosine_similarity(n.v, o.v), 4) AS cosine
  FROM newb n JOIN oldc o ON n.cluster = o.cluster
  JOIN sz ON sz.cluster = o.cluster
  WHERE sz.csz <= {ISN_CAP}
),
ctr AS (
  SELECT o.cluster, min(o.vec_id) AS cvid
  FROM oldc o JOIN sz ON sz.cluster = o.cluster
  WHERE sz.csz > {ISN_CAP} GROUP BY 1
),
big AS (
  SELECT n.vec_id AS new_id, c.vec_id AS old_id,
         round(list_cosine_similarity(n.v, c.v), 4) AS cosine
  FROM newb n JOIN ctr ON n.cluster = ctr.cluster
  JOIN oldc c ON c.vec_id = ctr.cvid
)
SELECT new_id, old_id, cosine
FROM (SELECT * FROM small UNION ALL SELECT * FROM big)
WHERE cosine >= {SEMDEDUP_THR}
"""


@register(
    "incremental_semantic_neardup",
    oracle=_isn_oracle(),
    tags=("clustering", "dedup", "incremental", "llm"),
)
def q_incremental_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest twin of semantic_dedup (operators/
    clustering.py::incremental_semantic_neardup) — the SEMANTIC tier of
    the every-batch dedup loop, closing the tier matrix in batch form
    (MinHash, PPJoin and the edit tier already have theirs): the
    vec_id %% 5 == 0 slice plays the arriving batch, k-means centroids
    are FIT ON THE CORPUS ONLY (the frozen-model contract of
    ann_index_append — the oracle's train/assign-split Lloyd chain
    replays exactly that), arrivals route against the stored centroids
    with the narrow broadcast fold, and pairs are cosine ≥ τ new×old
    within the shared cluster — quadratic confined to batch ×
    min(cluster, cap). Clusters whose OLD membership exceeds
    SEMDEDUP_CAP switch to the star comparison against the min-id old
    member, the identical hot-cluster routing (and recall tradeoff) as
    the one-shot, replayed by the oracle. The corpus side never
    shuffles (batch broadcasts onto the cluster-keyed member stream)."""
    from is3107datapipelineproject_spark.operators.clustering import (
        incremental_semantic_neardup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 5 == 0)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    return incremental_semantic_neardup(
        old,
        new,
        "vec_id",
        "embedding",
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        threshold=SEMDEDUP_THR,
        max_cluster=ISN_CAP,
    )


@register(
    "dup_ngram_fraction",
    oracle=f"""
WITH sh AS ({SQL_DOCS_SHINGLES}),
pd AS (SELECT doc_id, unnest(hs) AS ngram_hash FROM sh),
dfc AS (SELECT ngram_hash, count(*) AS dfq FROM pd GROUP BY 1)
SELECT pd.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN dfq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       round(CAST(sum(CASE WHEN dfq >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac
FROM pd JOIN dfc USING (ngram_hash)
GROUP BY 1
""",
    tags=("hygiene", "text", "llm"),
)
def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb duplicated-n-gram-fraction quality rule: per doc, the
    share of its distinct word-3-grams whose corpus document frequency
    is >= 2 (operators/contamination.py::dup_ngram_fraction — one df
    aggregate + one gram-keyed join back, AQE skew-split on hot
    boilerplate grams)."""
    from is3107datapipelineproject_spark.operators.contamination import dup_ngram_fraction

    docs = _t(spark, sf_dir, "documents")
    return dup_ngram_fraction(docs, "text", "doc_id", k=3)


@register(
    "hard_negatives",
    oracle=f"""
WITH e AS ({SQL_EMB}),
q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e WHERE vec_id < 50),
s AS (
  SELECT q.qid AS query_id, e.vec_id AS negative_id,
         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
  FROM e, q WHERE e.vec_id <> q.qid AND e.label <> q.qlabel
)
SELECT query_id, negative_id, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, negative_id) AS INT) AS rank
  FROM s
) WHERE rank <= 5
""",
    tags=("similarity", "llm"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector the 5
    most-similar corpus vectors with a DIFFERENT label
    (operators/similarity.py::hard_negatives — broadcast query set,
    single corpus scan, WindowGroupLimit top-k)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.hard_negatives(
        emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding", "label", k=5
    )


# --- two-level (IVF-style) k-means assignment -------------------------------

KMH_K = 16
KMH_GROUPS = 4
_KMH_CTES, _KMH_FINAL = _kmeans_ctes(KMH_K, KMEANS_ITERS)
_D2 = lambda a, b: (  # noqa: E731 — SQL fragment factory
    f"round(list_sum(list_transform(list_zip({a}, {b}), x -> (x[1]-x[2])*(x[1]-x[2]))), 6)"
)


@register(
    "kmeans_assign_hier",
    oracle=f"""
WITH {_KMH_CTES},
sup AS (SELECT cid AS gid, c AS scent FROM {_KMH_FINAL.replace('a', 'c')} WHERE cid < {KMH_GROUPS}),
m AS (
  SELECT cid, c, gid FROM (
    SELECT cc.cid, cc.c, s.gid,
           row_number() OVER (PARTITION BY cc.cid ORDER BY {_D2('cc.c', 's.scent')} ASC, s.gid ASC) AS rn
    FROM {_KMH_FINAL.replace('a', 'c')} cc, sup s) WHERE rn = 1
),
p_long AS (
  SELECT gid, pos, round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS pc
  FROM (SELECT gid, unnest(c) AS x, generate_subscripts(c, 1) AS pos FROM m) GROUP BY 1, 2
),
p AS (SELECT gid, list(pc ORDER BY pos) AS probe FROM p_long GROUP BY 1),
r AS (
  SELECT vec_id, gid FROM (
    SELECT e.vec_id, p.gid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {_D2('e.v', 'p.probe')} ASC, p.gid ASC) AS rn
    FROM e, p) WHERE rn = 1
),
f AS (
  SELECT vec_id, gid, cid, dd AS d2 FROM (
    SELECT r.vec_id, r.gid, m.cid, {_D2('e.v', 'm.c')} AS dd,
           row_number() OVER (PARTITION BY r.vec_id ORDER BY {_D2('e.v', 'm.c')} ASC, m.cid ASC) AS rn
    FROM r JOIN e USING (vec_id) JOIN m ON m.gid = r.gid) WHERE rn = 1
)
SELECT vec_id, gid AS group_id, cid AS cluster, d2 FROM f
""",
    tags=("clustering", "similarity", "llm"),
)
def q_kmeans_assign_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF-style k-means assignment (k=16 centroids routed
    through 4 centroid groups): per-point cost O(g + k/g) distance folds
    instead of O(k) — the k >> 1000 scale path
    (operators/clustering.py::kmeans_assign_two_level). The group prune
    is deterministic, so the oracle replays the identical routing."""
    from is3107datapipelineproject_spark.operators.clustering import kmeans_assign_two_level

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign_two_level(
        emb, "vec_id", "embedding", k=KMH_K, groups=KMH_GROUPS, iters=KMEANS_ITERS
    )


@register(
    "containment_pairs",
    oracle=f"""
WITH sh AS ({SQL_DOCS_SHINGLES}),
pd AS (SELECT doc_id, unnest(hs) AS g FROM sh),
fr AS (SELECT g FROM (SELECT g, count(*) AS c FROM pd GROUP BY 1) WHERE c <= 64),
kept AS (SELECT pd.doc_id, pd.g FROM pd JOIN fr USING (g)),
sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
iv AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(count(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2, n_shared,
       round(CAST(n_shared AS DOUBLE) / least(s1.n, s2.n), 4) AS containment
FROM iv JOIN sz s1 ON s1.doc_id = doc1 JOIN sz s2 ON s2.doc_id = doc2
WHERE round(CAST(n_shared AS DOUBLE) / least(s1.n, s2.n), 4) >= 0.6
""",
    tags=("dedup", "llm"),
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (subset/quote-expansion
    near-dups symmetric Jaccard misses):
    operators/dedup.py::containment_pairs — inverted-index candidates
    over the df<=64 stop-gram-capped universe, containment over the same
    capped universe so the cap is a replayable semantic, not a silent
    approximation."""
    docs = _t(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "text", "doc_id", k=3, threshold=0.6)


# --- corpus release drift ---------------------------------------------------

def _dim_shares(v: DataFrame, dim: str):
    total = v.agg(F.count(F.lit(1)).alias("__t"))
    return (
        v.groupBy(dim)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(F.col(dim).alias("val"), "n", (F.col("n") / F.col("__t")).alias("share"))
    )


@register(
    "corpus_drift",
    oracle="""
WITH o AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
n AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
dims AS (
  SELECT 'source' AS dim, source AS val, 1 AS v FROM o
  UNION ALL SELECT 'lang', lang, 1 FROM o
  UNION ALL SELECT 'source', source, 2 FROM n
  UNION ALL SELECT 'lang', lang, 2 FROM n
),
c AS (SELECT dim, val, v, CAST(count(*) AS BIGINT) AS cnt FROM dims GROUP BY 1, 2, 3),
t AS (SELECT dim, v, sum(cnt) AS tot FROM c GROUP BY 1, 2),
s AS (SELECT c.dim, c.val, c.v, c.cnt, CAST(c.cnt AS DOUBLE) / t.tot AS share
      FROM c JOIN t ON t.dim = c.dim AND t.v = c.v),
j AS (
  SELECT coalesce(a.dim, b.dim) AS dim, coalesce(a.val, b.val) AS val,
         coalesce(a.cnt, 0) AS n_v1, coalesce(b.cnt, 0) AS n_v2,
         coalesce(a.share, 0.0) AS s1, coalesce(b.share, 0.0) AS s2
  FROM (SELECT * FROM s WHERE v = 1) a
  FULL OUTER JOIN (SELECT * FROM s WHERE v = 2) b
    ON a.dim = b.dim AND a.val = b.val
)
SELECT dim, val, n_v1, n_v2,
       round(s1, 6) AS share_v1, round(s2, 6) AS share_v2,
       round(s2 - s1, 6) AS delta,
       CASE WHEN n_v1 > 0 AND n_v2 > 0 THEN round((s2 - s1) * log2(s2 / s1), 4) END AS psi
FROM j
""",
    tags=("governance", "incremental", "llm"),
)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two corpus releases (same v1 = id%7,
    v2 = id%11 convention as corpus_diff): per (dimension, value) the
    share in each version, the delta, and a PSI-style term
    (Δshare · log2 ratio) — the governance check that catches a release
    quietly rebalancing sources/languages even when corpus_diff's
    row-level statuses look routine. Plan: two tiny per-dim aggregates
    per version + 1-row totals broadcast; one #values-sized full-outer
    join; nothing corpus-sized ever shuffles."""
    docs = _t(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 7 != 0)
    v2 = docs.filter(F.col("doc_id") % 11 != 0)
    outs = []
    for dim in ("source", "lang"):
        a = _dim_shares(v1, dim).select(
            F.lit(dim).alias("dim"), "val", F.col("n").alias("n_v1"), F.col("share").alias("s1")
        )
        b = _dim_shares(v2, dim).select(
            F.lit(dim).alias("dim"), "val", F.col("n").alias("n_v2"), F.col("share").alias("s2")
        )
        j = a.join(b, ["dim", "val"], "full_outer").select(
            "dim",
            "val",
            F.coalesce("n_v1", F.lit(0)).cast("long").alias("n_v1"),
            F.coalesce("n_v2", F.lit(0)).cast("long").alias("n_v2"),
            F.coalesce("s1", F.lit(0.0)).alias("s1"),
            F.coalesce("s2", F.lit(0.0)).alias("s2"),
        )
        outs.append(j)
    u = outs[0].unionByName(outs[1])
    psi = F.when(
        (F.col("n_v1") > 0) & (F.col("n_v2") > 0),
        F.round((F.col("s2") - F.col("s1")) * F.log2(F.col("s2") / F.col("s1")), 4),
    )
    return u.select(
        "dim",
        "val",
        "n_v1",
        "n_v2",
        F.round("s1", 6).alias("share_v1"),
        F.round("s2", 6).alias("share_v2"),
        F.round(F.col("s2") - F.col("s1"), 6).alias("delta"),
        psi.alias("psi"),
    )


# --- round 5: tokenizer-training / text-statistics additions ----------------


@register(
    "bpe_merge_candidates",
    oracle=f"""
WITH toks AS ({SQL_DOCS_TOKS}),
vocab AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY 1),
prs AS (
  SELECT unnest(list_transform(generate_series(1, length(token) - 1),
                               i -> substr(token, i, 2))) AS pair, freq
  FROM vocab WHERE length(token) >= 2
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS merge_count
FROM prs GROUP BY 1 ORDER BY merge_count DESC, pair LIMIT 50
""",
    tags=("text", "tokenizer", "llm"),
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training iteration: top-50 adjacent character pairs by
    frequency-weighted count (operators/text.py::bpe_merge_pairs). The
    pair explode runs over the DISTINCT word vocabulary (weighted by
    word frequency), never the corpus — after one corpus token count,
    cost is vocabulary-sized regardless of corpus scale; the cutoff is
    a total (count desc, pair asc) order, so the top-50 is exact."""
    docs = _t(spark, sf_dir, "documents")
    return X.bpe_merge_pairs(docs, "text", "doc_id")


def _bpe_learn_sql(rounds: int = 3, passes: int = 8) -> str:
    """Unrolled-CTE DuckDB twin of operators/text.py::bpe_learn_merges:
    per round, pair argmax (count desc, pair asc) then the same
    ``passes``-fold left-to-right non-overlapping replace rewrite."""
    parts = [
        f"toks AS ({SQL_DOCS_TOKS})",
        "vocab AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS freq"
        " FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY 1)",
        r"v0 AS (SELECT ' ' || regexp_replace(token, '(.)', '\1 ', 'g') AS seq,"
        " freq FROM vocab)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"s{r} AS (SELECT string_split(trim(seq), ' ') AS syms, freq FROM v{r-1})"
        )
        parts.append(
            f"p{r} AS (SELECT unnest(list_transform(generate_series(1, len(syms) - 1),"
            f" i -> syms[i] || ' ' || syms[i+1])) AS pair, freq"
            f" FROM s{r} WHERE len(syms) >= 2)"
        )
        parts.append(
            f"m{r} AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt"
            f" FROM p{r} GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)"
        )
        expr = "seq"
        for _ in range(passes):
            expr = (
                f"replace({expr}, ' ' || m{r}.pair || ' ',"
                f" ' ' || replace(m{r}.pair, ' ', '') || ' ')"
            )
        parts.append(f"v{r} AS (SELECT {expr} AS seq, freq FROM v{r-1}, m{r})")
    final = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, pair, cnt AS merge_count FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(merge_rank AS INT) AS merge_rank, pair, merge_count"
        + f" FROM ({final})"
    )


@register(
    "bpe_learn_merges",
    oracle=_bpe_learn_sql(),
    tags=("text", "tokenizer", "llm"),
)
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge learning, 3 rounds — the step bpe_merge_candidates
    only previews: each round counts adjacent symbol pairs over the
    word-frequency table, picks the (count desc, pair asc) argmax, and
    REWRITES every word's symbol sequence with the merged token before
    the next round, so rounds 2-3 count pairs involving previously
    merged symbols (real tokenizer training, not three independent
    rankings). The corpus collapses to the distinct-word table in one
    aggregate; every round after that is vocabulary-sized
    (operators/text.py::bpe_learn_merges — string-replace rewrite in
    JVM codegen, fixed 8-pass fixed-point, per-round winner resolved to
    a literal via a 1-row argmax)."""
    from is3107datapipelineproject_spark.operators.text import bpe_learn_merges

    docs = _t(spark, sf_dir, "documents")
    return bpe_learn_merges(docs, "text", "doc_id")


@register(
    "bpe_token_fertility",
    oracle=_bpe_learn_sql().split("\nSELECT CAST(merge_rank")[0]
    + """
SELECT CAST(sum(freq) AS BIGINT) AS n_words,
       CAST(sum(freq * length(replace(trim(seq), ' ', ''))) AS BIGINT) AS n_chars,
       CAST(sum(freq * len(string_split(trim(seq), ' '))) AS BIGINT) AS n_tokens,
       round(CAST(sum(freq * length(replace(trim(seq), ' ', ''))) AS DOUBLE)
             / sum(freq * len(string_split(trim(seq), ' '))), 4) AS chars_per_token
FROM v3
""",
    tags=("text", "tokenizer", "llm"),
)
def q_bpe_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility/compression after the 3 learned BPE merges:
    corpus words, characters, post-merge tokens, and chars-per-token —
    the budget number (tokens per unit text) a pretraining planner
    feeds into data-mixture math. The encode costs nothing beyond
    training: the loop's final rewritten vocabulary IS every distinct
    word's encoding, so the totals are frequency-weighted sums over the
    vocab frame (operators/text.py::bpe_fertility_stats); the oracle
    reuses the same unrolled CTE chain and aggregates its final
    vocabulary state."""
    from is3107datapipelineproject_spark.operators.text import bpe_fertility_stats

    docs = _t(spark, sf_dir, "documents")
    return bpe_fertility_stats(docs, "text")


@register(
    "readability_score",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all({SQL_NORM}, '[a-z0-9]+')) AS BIGINT) AS words,
         CAST(greatest(len(regexp_extract_all({SQL_NORM}, '[.!?]+')), 1) AS BIGINT) AS sentences,
         CAST(len(regexp_extract_all({SQL_NORM}, '[aeiou]+')) AS BIGINT) AS syllables
  FROM documents
)
SELECT doc_id, words, sentences, syllables,
       round(0.39 * (CAST(words AS DOUBLE) / sentences)
             + 11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59, 4) AS fk_grade
FROM m WHERE words > 0
""",
    tags=("text", "quality", "llm"),
)
def q_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level proxy per document
    (operators/text.py::readability_scores): words / sentence-break /
    vowel-group-syllable counts from three regexp passes folded into one
    narrow codegen scan — the readability gate curation recipes (C4,
    Gopher rules) apply next to length/repetition signals."""
    docs = _t(spark, sf_dir, "documents")
    return X.readability_scores(docs, "text", "doc_id")


@register(
    "char_entropy",
    oracle=f"""
WITH cs AS (SELECT doc_id, unnest(string_split({SQL_NORM}, '')) AS c FROM documents),
cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt FROM cs GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
         CAST(count(*) AS BIGINT) AS uniq_chars,
         list(cnt ORDER BY c) AS arr
  FROM cc GROUP BY 1
)
SELECT doc_id, n_chars, uniq_chars,
       round(-list_sum(list_transform(arr,
             x -> (CAST(x AS DOUBLE) / n_chars) * log2(CAST(x AS DOUBLE) / n_chars))), 4)
         AS entropy
FROM agg
""",
    tags=("text", "quality", "llm"),
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document
    (operators/text.py::char_entropy) — the gibberish/filler detector:
    per-(doc, char) counts partial-aggregate map-side (≤|alphabet| rows
    per doc cross the shuffle), and the entropy sum folds the
    char-sorted count list in a fixed order so both engines evaluate the
    identical float expression."""
    docs = _t(spark, sf_dir, "documents")
    return X.char_entropy(docs, "text", "doc_id")


# --- round 5: spectral / power-iteration family ------------------------------

PC_ITERS = 3


def _power_ctes(iters: int = PC_ITERS) -> tuple[str, str]:
    """Unrolled power-iteration CTE chain mirroring
    operators/spectral.py step-for-step: init = smallest-id vector
    normalized (elements rounded to 6), per-row projections rounded to 6
    before the DECIMAL-exact per-dimension weighted sum, renormalized
    direction rounded to 6. Returns (cte_sql, final_direction_name)."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        """v0 AS (
  SELECT list_transform(v, x -> round(x / sqrt(list_sum(list_transform(v, y -> y*y))), 6)) AS pc
  FROM e ORDER BY vec_id LIMIT 1
)""",
    ]
    for i in range(iters):
        parts.append(
            f"""s{i} AS (
  SELECT e.vec_id, e.v,
         round(list_sum(list_transform(list_zip(e.v, v{i}.pc), z -> z[1]*z[2])), 6) AS s
  FROM e, v{i}
)"""
        )
        parts.append(
            f"""w{i} AS (
  SELECT pos, CAST(sum(CAST(x * s AS DECIMAL(28,12))) AS DOUBLE) AS w
  FROM (SELECT s, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM s{i})
  GROUP BY 1
)"""
        )
        parts.append(
            f"""v{i + 1} AS (
  SELECT list_transform(ws, x -> round(x / sqrt(list_sum(list_transform(ws, y -> y*y))), 6)) AS pc
  FROM (SELECT list(w ORDER BY pos) AS ws FROM w{i})
)"""
        )
    return ",\n".join(parts), f"v{iters}"


_PC_CTES, _PC_FINAL = _power_ctes()


@register(
    "embedding_top_pc",
    oracle=f"""
WITH {_PC_CTES}
SELECT CAST(pos - 1 AS INT) AS dim, loading + 0.0 AS loading FROM (
  SELECT unnest(pc) AS loading, generate_subscripts(pc, 1) AS pos FROM {_PC_FINAL}
)
""",
    tags=("spectral", "similarity", "llm"),
)
def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by 3 power-
    iteration steps (operators/spectral.py) — the dominant-direction
    estimate ABTT-style postprocessing subtracts and drift monitors
    track. The d×d covariance is never materialized: each iteration is
    a narrow broadcast-fold projection pass plus one dim×N hash-
    aggregate with DECIMAL-exact sums, O(N·d) at any corpus size, and
    the deterministic rounding contract lets the unrolled-CTE oracle
    replay every step hash-exactly."""
    from is3107datapipelineproject_spark.operators.spectral import top_principal_component

    emb = _t(spark, sf_dir, "embeddings")
    return top_principal_component(emb, "vec_id", "embedding", iters=PC_ITERS)


@register(
    "embedding_pc_projection",
    oracle=f"""
WITH {_PC_CTES}
SELECT e.vec_id,
       round(list_sum(list_transform(list_zip(e.v, f.pc), z -> z[1]*z[2])), 4) + 0.0 AS proj
FROM e, {_PC_FINAL} f
""",
    tags=("spectral", "similarity", "llm"),
)
def q_embedding_pc_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the converged top direction — the
    score ABTT subtracts from every embedding and outlier sweeps rank
    by. One extra narrow corpus pass with the 1-row direction broadcast
    (operators/spectral.py::pc_projection)."""
    from is3107datapipelineproject_spark.operators.spectral import pc_projection

    emb = _t(spark, sf_dir, "embeddings")
    return pc_projection(emb, "vec_id", "embedding", iters=PC_ITERS)


@register(
    "word_pmi",
    oracle=f"""
WITH t AS (SELECT {SQL_TOKS} AS toks FROM documents),
tok AS (SELECT unnest(toks) AS w FROM t),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
tu AS (SELECT CAST(count(*) AS BIGINT) AS n_un FROM tok),
bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
),
cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
tb AS (SELECT CAST(count(*) AS BIGINT) AS n_bg FROM bg)
SELECT w1, w2, cnt,
       round(log2(CAST(cnt AS DOUBLE) * n_un * n_un
                  / (CAST(n_bg AS DOUBLE) * u1.c * u2.c)), 4) AS pmi
FROM cb
JOIN uni u1 ON u1.w = cb.w1
JOIN uni u2 ON u2.w = cb.w2
CROSS JOIN tu CROSS JOIN tb
ORDER BY pmi DESC, w1, w2 LIMIT 100
""",
    tags=("text", "llm"),
)
def q_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 adjacent-word collocations by PMI
    (operators/text.py::word_pmi) — phrase mining for tokenizer /
    n-gram-merge decisions. Counts are corpus-wide integers; the score
    is one pinned-order double expression rounded before the ranked
    cut, so the top-100 is deterministic; the hapax tail is pruned by
    min_count BEFORE the vocabulary-keyed score join."""
    docs = _t(spark, sf_dir, "documents")
    return X.word_pmi(docs, "text", "doc_id")


@register(
    "embedding_abtt",
    oracle=f"""
WITH {_PC_CTES}
SELECT e.vec_id,
       round(sqrt(list_sum(list_transform(
           list_transform(list_zip(e.v, f.pc), z -> z[1] - s.s * z[2]), y -> y*y))), 4) AS resid_norm,
       round(e.v[1] - s.s * f.pc[1], 4) + 0.0 AS resid_d0
FROM e
CROSS JOIN {_PC_FINAL} f
CROSS JOIN LATERAL (
  SELECT round(list_sum(list_transform(list_zip(e.v, f.pc), z -> z[1]*z[2])), 6) AS s
) s
""",
    tags=("spectral", "similarity", "llm"),
)
def q_embedding_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top postprocess audit (operators/spectral.py::
    abtt_postprocess): per-vector residual norm + first coordinate
    after removing the power-iteration dominant direction — the
    isotropy-restoring cleanup for similarity search. One narrow pass
    with the 1-row direction broadcast; projections share the
    6-dp rounding contract so the oracle replays the subtraction
    hash-exactly."""
    from is3107datapipelineproject_spark.operators.spectral import abtt_postprocess

    emb = _t(spark, sf_dir, "embeddings")
    return abtt_postprocess(emb, "vec_id", "embedding", iters=PC_ITERS)


# --- product quantization (operators/pq.py) ---------------------------------

PQ_M = 8  # subspaces (dim 64 -> 8-dim subvectors)
PQ_K = 16  # codewords per subspace
PQ_TOPN = 20

_PQ_SUBD = 64 // PQ_M

# split so compositions (ivfpq) can reuse another chain's identical `e`
_PQ_E = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
_PQ_TAIL = f"""seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
  FROM e ORDER BY vec_id LIMIT {PQ_K}
),
cb AS (
  SELECT s.sub, seeds.code,
         seeds.v[(s.sub * {_PQ_SUBD} + 1):(s.sub * {_PQ_SUBD} + {_PQ_SUBD})] AS cw
  FROM (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub) s, seeds
),
enc AS (
  SELECT vec_id, CAST(sub AS INT) AS sub, code FROM (
    SELECT e.vec_id, cb.sub, cb.code,
           row_number() OVER (
             PARTITION BY e.vec_id, cb.sub
             ORDER BY round(list_sum(list_transform(
                 list_zip(e.v[(cb.sub * {_PQ_SUBD} + 1):(cb.sub * {_PQ_SUBD} + {_PQ_SUBD})], cb.cw),
                 x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) ASC, cb.code ASC) AS rn
    FROM e, cb
  ) WHERE rn = 1
)"""

_PQ_CTES = f"""
{_PQ_E},
{_PQ_TAIL}"""


@register(
    "pq_codes",
    oracle=f"""
WITH {_PQ_CTES}
SELECT vec_id, sub, code FROM enc
""",
    tags=("similarity", "pq", "llm"),
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (operators/pq.py::pq_encode): every
    embedding compressed to m=8 codes over k=16 codewords/subspace —
    the d*4-bytes -> m-bytes index layout before a 100-TB ANN build.
    One narrow corpus pass over the ONE-row broadcast codebook; the
    per-sub argmin folds inside codegen, so the corpus is never
    shuffled or expanded k x."""
    from is3107datapipelineproject_spark.operators.pq import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    return pq_encode(emb, "vec_id", "embedding", m=PQ_M, k=PQ_K)


@register(
    "pq_topk",
    oracle=f"""
WITH {_PQ_CTES},
q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
lut AS (
  SELECT cb.sub, cb.code,
         CAST(round(list_sum(list_transform(
             list_zip(cb.cw, q.qv[(cb.sub * {_PQ_SUBD} + 1):(cb.sub * {_PQ_SUBD} + {_PQ_SUBD})]),
             z -> z[1] * z[2])), 6) AS DECIMAL(18,6)) AS dp
  FROM cb, q
),
sc AS (
  SELECT enc.vec_id, round(CAST(sum(lut.dp) AS DOUBLE), 4) AS score
  FROM enc JOIN lut USING (sub, code) GROUP BY 1
)
SELECT vec_id, score FROM sc ORDER BY score DESC, vec_id LIMIT {PQ_TOPN}
""",
    tags=("similarity", "pq", "llm"),
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-20 (operators/pq.py::pq_topk): the ADC
    lookup table (query . codeword, 6-dp DECIMAL) rides the broadcast
    codebook row; each corpus row folds to its nearest code per
    subspace and accumulates the table entry in the SAME fold — encode
    + score in one narrow pass, exact decimal sum (SQL-replayable
    ranking), TakeOrderedAndProject cut. The compressed-domain search
    that makes billion-vector ANN memory-feasible."""
    from is3107datapipelineproject_spark.operators.pq import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, "vec_id", "embedding", m=PQ_M, k=PQ_K, topn=PQ_TOPN)


# shared by ivfpq_topk (rebuild-per-call) and ivfpq_topk_from_index
# (persisted index) — identical results by construction, same oracle.
_IVFPQ_ORACLE = f"""
WITH {_KM_CTES},
{_PQ_TAIL},
qc AS (SELECT cid FROM {_KM_FINAL} ORDER BY vec_id LIMIT 1),
cand AS (SELECT a.vec_id FROM {_KM_FINAL} a, qc WHERE a.cid = qc.cid),
q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
lut AS (
  SELECT cb.sub, cb.code,
         CAST(round(list_sum(list_transform(
             list_zip(cb.cw, q.qv[(cb.sub * {_PQ_SUBD} + 1):(cb.sub * {_PQ_SUBD} + {_PQ_SUBD})]),
             z -> z[1] * z[2])), 6) AS DECIMAL(18,6)) AS dp
  FROM cb, q
),
sc AS (
  SELECT enc.vec_id, round(CAST(sum(lut.dp) AS DOUBLE), 4) AS score
  FROM enc JOIN cand USING (vec_id) JOIN lut USING (sub, code) GROUP BY 1
)
SELECT vec_id, score FROM sc ORDER BY score DESC, vec_id LIMIT {PQ_TOPN}
"""


@register(
    "ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    tags=("similarity", "pq", "clustering", "llm"),
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (operators/pq.py::ivfpq_topk): coarse k-means routing
    prunes the corpus to the query's cluster (~1/k of the vectors — the
    recall/latency knob), then ADC scores only those candidates in the
    compressed domain. The production billion-vector ANN composition:
    both stages are the engine's existing deterministic operators, so
    the oracle composes the two unrolled-CTE chains verbatim."""
    from is3107datapipelineproject_spark.operators.pq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, "vec_id", "embedding",
        k_coarse=KMEANS_K, km_iters=KMEANS_ITERS, m=PQ_M, k=PQ_K, topn=PQ_TOPN,
    )


@register(
    "pq_recall",
    oracle=f"""
WITH {_PQ_CTES},
q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
lut AS (
  SELECT cb.sub, cb.code,
         CAST(round(list_sum(list_transform(
             list_zip(cb.cw, q.qv[(cb.sub * {_PQ_SUBD} + 1):(cb.sub * {_PQ_SUBD} + {_PQ_SUBD})]),
             z -> z[1] * z[2])), 6) AS DECIMAL(18,6)) AS dp
  FROM cb, q
),
adc AS (
  SELECT enc.vec_id FROM (
    SELECT enc.vec_id, round(CAST(sum(lut.dp) AS DOUBLE), 4) AS score
    FROM enc JOIN lut USING (sub, code) GROUP BY 1
  ) enc ORDER BY score DESC, vec_id LIMIT {PQ_TOPN}
),
exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           round(list_sum(list_transform(list_zip(e.v, q.qv), z -> z[1] * z[2])), 6) AS score
    FROM e, q
  ) ORDER BY score DESC, vec_id LIMIT {PQ_TOPN}
)
SELECT CAST((SELECT count(*) FROM adc JOIN exact USING (vec_id)) AS BIGINT) AS n_hits,
       round(CAST((SELECT count(*) FROM adc JOIN exact USING (vec_id)) AS DOUBLE) / {PQ_TOPN}, 4) AS recall
""",
    tags=("similarity", "pq", "llm"),
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@20 of the compressed-domain ADC ranking vs the exact
    inner-product top-20 — the calibration metric that tells you
    whether m=8/k=16 is enough codebook for this corpus (the PQ twin of
    ann_recall for the IVF tier). Both rankings are engine-reproducible
    (fixed fold order + rounding), so even the recall VALUE is
    hash-checked, not just row counts. Exact side is one narrow scan +
    TakeOrderedAndProject; the overlap count joins two 20-row frames."""
    from is3107datapipelineproject_spark.operators.pq import pq_topk
    from is3107datapipelineproject_spark.operators.similarity import dot

    emb = _t(spark, sf_dir, "embeddings")
    adc = pq_topk(emb, "vec_id", "embedding", m=PQ_M, k=PQ_K, topn=PQ_TOPN).select("vec_id")
    q = (
        emb.orderBy("vec_id").limit(1)
        .select(F.col("embedding").cast("array<double>").alias("__q"))
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with(F.col("embedding").cast("array<double>"), F.col("__q"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, v: a + v,
                ),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(PQ_TOPN)
        .select("vec_id")
    )
    hits = adc.join(exact, "vec_id").agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return hits.select(
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.lit(PQ_TOPN), 4).alias("recall"),
    )


# --- persisted IVF-PQ index (plans/indexes.py) -------------------------------


@register(
    "ann_index_build",
    oracle=f"""
WITH {_KM_CTES}
SELECT CAST(cid AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n_vectors
FROM {_KM_FINAL} GROUP BY 1
""",
    tags=("similarity", "pq", "materialize", "llm"),
)
def q_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the persisted IVF-PQ index (plans/indexes.py::
    ivfpq_index_tables — centroids, codebook, and cluster-PARTITIONED
    codes tables) and return the per-cluster vector counts read from
    the stored codes — the inverted-list length audit an ANN build
    ships (cluster imbalance predicts the probe-cost tail). The count
    reads ONLY the materialized table (one sub-slice per vector); the
    oracle recomputes the coarse assignment from the embeddings, which
    is exactly the build-correctness check."""
    from is3107datapipelineproject_spark.plans.indexes import ivfpq_index_tables

    tabs = ivfpq_index_tables(
        spark, sf_dir, k_coarse=KMEANS_K, km_iters=KMEANS_ITERS, m=PQ_M, k=PQ_K
    )
    codes = spark.table(tabs["codes"])
    return (
        codes.filter(F.col("sub") == 0)
        .groupBy(F.col("cluster").cast("int").alias("cluster"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )


@register(
    "ivfpq_topk_from_index",
    oracle=_IVFPQ_ORACLE,
    tags=("similarity", "pq", "materialize", "llm"),
)
def q_ivfpq_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivfpq_topk's amortized twin: identical result (same oracle), but
    routing/LUT/scoring all come from the PERSISTED index tables
    (operators/pq.py::ivfpq_topk_from_index) — no k-means, no encode,
    no read of the original vectors at query time. The codes scan
    partition-prunes to the query's coarse cluster at planning time
    (literal cluster id from the 1-row centroid routing), so query cost
    is ~|cluster|·m code lookups — the per-query profile a
    billion-vector deployment actually pays."""
    from is3107datapipelineproject_spark.operators.pq import ivfpq_topk_from_index
    from is3107datapipelineproject_spark.plans.indexes import ivfpq_index_tables

    tabs = ivfpq_index_tables(
        spark, sf_dir, k_coarse=KMEANS_K, km_iters=KMEANS_ITERS, m=PQ_M, k=PQ_K
    )
    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk_from_index(spark, tabs, emb, "vec_id", "embedding", topn=PQ_TOPN)


_KMA_CTES, _KMA_FINAL = _kmeans_ctes_split(
    KMEANS_K, KMEANS_ITERS, "vec_id % 5 <> 3"
)


@register(
    "ann_index_append",
    oracle=f"""
WITH {_KMA_CTES},
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
  FROM e ORDER BY vec_id LIMIT {PQ_K}
),
cb AS (
  SELECT s.sub, seeds.code,
         seeds.v[(s.sub * {_PQ_SUBD} + 1):(s.sub * {_PQ_SUBD} + {_PQ_SUBD})] AS cw
  FROM (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub) s, seeds
),
enc AS (
  SELECT vec_id, CAST(sub AS INT) AS sub, code FROM (
    SELECT eall.vec_id, cb.sub, cb.code,
           row_number() OVER (
             PARTITION BY eall.vec_id, cb.sub
             ORDER BY round(list_sum(list_transform(
                 list_zip(eall.v[(cb.sub * {_PQ_SUBD} + 1):(cb.sub * {_PQ_SUBD} + {_PQ_SUBD})], cb.cw),
                 x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) ASC, cb.code ASC) AS rn
    FROM eall, cb
  ) WHERE rn = 1
)
SELECT CAST(a.cid AS INT) AS cluster,
       CAST(sum(CASE WHEN enc.sub = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN enc.sub = 0 AND enc.vec_id % 5 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_appended,
       CAST(sum(enc.code) AS BIGINT) AS code_sum
FROM enc JOIN {_KMA_FINAL} a USING (vec_id)
GROUP BY 1
""",
    tags=("similarity", "pq", "materialize", "incremental", "llm"),
)
def q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index maintenance audit
    (plans/indexes.py::ann_appended_index_tables): the index is BUILT
    on the base 80% of the corpus, then the remaining 20% "arrives" and
    is encoded against the FROZEN centroids/codebook and APPENDED to
    the cluster-partitioned codes table — real ingest appends, it never
    retrains (retraining would re-route previously stored codes; a
    model refresh is a new index version). Returns per-cluster totals
    (vectors, appended vectors, code checksum) read ONLY from the
    persisted table; the oracle recomputes train-on-base /
    encode-everything from the raw embeddings — the build+append
    correctness check. Appending in any batch split is bit-identical to
    a one-shot encode of the union under the frozen model (asserted in
    tests/test_indexes.py, plus the streaming twin in
    streaming/windows.py::ann_ingest_sink)."""
    from is3107datapipelineproject_spark.plans.indexes import (
        ANN_APPEND_MOD,
        ANN_APPEND_REM,
        ann_appended_index_tables,
    )

    tabs = ann_appended_index_tables(
        spark, sf_dir, k_coarse=KMEANS_K, km_iters=KMEANS_ITERS, m=PQ_M, k=PQ_K
    )
    codes = spark.table(tabs["codes"])
    is_sub0 = F.col("sub") == 0
    is_appended = F.col("vec_id") % ANN_APPEND_MOD == ANN_APPEND_REM
    return codes.groupBy(F.col("cluster").cast("int").alias("cluster")).agg(
        F.sum(F.when(is_sub0, 1).otherwise(0)).cast("long").alias("n_vectors"),
        F.sum(F.when(is_sub0 & is_appended, 1).otherwise(0)).cast("long").alias("n_appended"),
        F.sum("code").cast("long").alias("code_sum"),
    )


@register(
    "ann_index_delete",
    oracle=f"""
WITH {_KMA_CTES},
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
  FROM e ORDER BY vec_id LIMIT {PQ_K}
),
cb AS (
  SELECT s.sub, seeds.code,
         seeds.v[(s.sub * {_PQ_SUBD} + 1):(s.sub * {_PQ_SUBD} + {_PQ_SUBD})] AS cw
  FROM (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub) s, seeds
),
enc AS (
  SELECT vec_id, CAST(sub AS INT) AS sub, code FROM (
    SELECT eall.vec_id, cb.sub, cb.code,
           row_number() OVER (
             PARTITION BY eall.vec_id, cb.sub
             ORDER BY round(list_sum(list_transform(
                 list_zip(eall.v[(cb.sub * {_PQ_SUBD} + 1):(cb.sub * {_PQ_SUBD} + {_PQ_SUBD})], cb.cw),
                 x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) ASC, cb.code ASC) AS rn
    FROM eall, cb
  ) WHERE rn = 1
)
SELECT CAST(a.cid AS INT) AS cluster,
       CAST(sum(CASE WHEN enc.sub = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vectors,
       CAST(sum(enc.code) AS BIGINT) AS code_sum
FROM enc JOIN {_KMA_FINAL} a USING (vec_id)
WHERE enc.vec_id % 11 <> 7
GROUP BY 1
""",
    tags=("similarity", "pq", "materialize", "incremental", "llm"),
)
def q_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-lifecycle purge audit
    (plans/indexes.py::ann_deleted_index_tables): build on the base
    80%, append the arriving 20% against the frozen model, then DELETE
    the ``vec_id %% 11 == 7`` slice via ann_index_delete — which
    rewrites ONLY the affected cluster partitions (planning-time
    ``cluster IN`` pruning on the read, dynamic-partition overwrite on
    the write, explicit drop of fully-emptied partitions). Returns
    per-cluster totals read ONLY from the persisted purged table; the
    oracle recomputes train-on-base / encode-everything from the raw
    embeddings and filters the deleted slice at the END — deletion is a
    pure row filter under the frozen model, so purged == never-ingested
    (also bit-asserted in tests/test_indexes.py, including
    untouched-partition file stability and outright idempotence)."""
    from is3107datapipelineproject_spark.plans.indexes import (
        ann_deleted_index_tables,
    )

    tabs = ann_deleted_index_tables(
        spark, sf_dir, k_coarse=KMEANS_K, km_iters=KMEANS_ITERS, m=PQ_M, k=PQ_K
    )
    codes = spark.table(tabs["codes"])
    return codes.groupBy(F.col("cluster").cast("int").alias("cluster")).agg(
        F.sum(F.when(F.col("sub") == 0, 1).otherwise(0)).cast("long").alias("n_vectors"),
        F.sum("code").cast("long").alias("code_sum"),
    )


@register(
    "vocab_coverage",
    oracle=f"""
WITH tok AS (SELECT source, unnest({SQL_TOKS}) AS term FROM documents),
dfreq AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents) GROUP BY 1
  ) WHERE df >= 5
)
SELECT tok.source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN dfreq.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(CAST(sum(CASE WHEN dfreq.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS oov_rate
FROM tok LEFT JOIN dfreq ON dfreq.term = tok.term
GROUP BY 1
""",
    tags=("text", "governance", "llm"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: per-source share of token OCCURRENCES
    falling outside the df>=5 vocabulary — the health metric that flags
    a source whose text a fixed vocabulary (or BPE merge table) would
    shatter into rare pieces. One tokenize scan feeds both the
    vocabulary df-aggregate and the per-source rollup; the coverage
    join is keyed on the VOCABULARY (Heaps-bounded), never the corpus,
    and only (source, counts) rows leave the final shuffle."""
    docs = _t(spark, sf_dir, "documents")
    from is3107datapipelineproject_spark.operators.text import ws_tokens

    tok = docs.select("source", F.explode(ws_tokens("text")).alias("term"))
    dfreq = (
        docs.select("doc_id", F.explode(F.array_distinct(ws_tokens("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 5)
        .select("term", F.lit(True).alias("__in_vocab"))
    )
    j = tok.join(dfreq, "term", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("oov_rate"),
    )


@register(
    "kmv_source_overlap",
    oracle=f"""
WITH v AS (
  SELECT DISTINCT source AS key,
         CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) AS h
  FROM (SELECT source, unnest({{toks}}) AS term FROM documents)
),
r AS (SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS rn FROM v),
sk AS (SELECT key, list_sort(list(h)) AS s FROM r WHERE rn <= 256 GROUP BY key),
p AS (SELECT a.key AS key1, b.key AS key2, a.s AS s1, b.s AS s2
      FROM sk a JOIN sk b ON a.key < b.key),
m AS (SELECT key1, key2, s1, s2,
             list_sort(list_distinct(list_concat(s1, s2)))[1:256] AS mg
      FROM p)
SELECT key1 AS source1, key2 AS source2,
       CAST(least(256, len(mg)) AS INT) AS k_used,
       round(CAST(len(list_intersect(list_intersect(mg, s1), s2)) AS DOUBLE)
             / least(256, len(mg)), 4) AS jaccard_est,
       round(CASE WHEN len(mg) < 256 THEN CAST(len(mg) AS DOUBLE)
                  ELSE (CAST(least(256, len(mg)) AS DOUBLE) - 1.0) * 268435456.0 / mg[-1]
             END, 1) AS union_est
FROM m
""".replace("{toks}", SQL_TOKS),
    tags=("governance", "sketch", "llm"),
)
def q_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_overlap's SKETCH twin: per-source KMV (k-minimum-values,
    k=256) distinct-vocabulary sketches, then pairwise Jaccard AND
    union-cardinality ESTIMATES from the constant-size sketches alone
    (Beyer et al. 2007) — the deployment shape when per-release set
    algebra must run over stored kilobyte summaries instead of
    re-scanning two corpus versions. Each sketch is k·8 bytes
    regardless of corpus size; the pair stage is #sources² rows of
    k-length array algebra, zero corpus access — against exact
    source_overlap the estimate lands within the ~1/√k ≈ 6% KMV error
    band (operators/sketches.py::kmv_sketches / kmv_pair_estimates)."""
    from is3107datapipelineproject_spark.operators.sketches import (
        kmv_pair_estimates,
        kmv_sketches,
    )
    from is3107datapipelineproject_spark.operators.text import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(ws_tokens("text")).alias("term"))
    sk = kmv_sketches(toks, "source", "term")
    est = kmv_pair_estimates(sk)
    return est.select(
        F.col("key1").alias("source1"),
        F.col("key2").alias("source2"),
        "k_used",
        "jaccard_est",
        "union_est",
    )


@register(
    "source_overlap",
    oracle=f"""
WITH v AS (
  SELECT DISTINCT source, unnest({SQL_TOKS}) AS term FROM documents
),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
inter AS (
  SELECT a.source AS source1, b.source AS source2, CAST(count(*) AS BIGINT) AS n_common
  FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source1, i.source2, i.n_common,
       round(CAST(i.n_common AS DOUBLE) / (s1.n + s2.n - i.n_common), 4) AS jaccard
FROM inter i JOIN sz s1 ON s1.source = i.source1 JOIN sz s2 ON s2.source = i.source2
""",
    tags=("governance", "text", "llm"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources (Jaccard over each
    source's distinct token set) — the mixture-redundancy audit: two
    sources with near-identical vocabularies add diversity on paper
    but not in distribution. Plan: one tokenize scan collapses the
    corpus to the DISTINCT (source, term) frame (Heaps-bounded); the
    intersection self-join keys on TERM, where fan-out per term is
    bounded by the SOURCE COUNT (<= 20 here), never corpus rows — so
    the pair explode is O(|vocab| * sources²) worst case and in
    practice far sparser; per-source vocab sizes broadcast back onto
    the source-pair aggregate. Jaccard is one IEEE division of exact
    integers, rounded to 4 dp."""
    docs = _t(spark, sf_dir, "documents")
    from is3107datapipelineproject_spark.operators.text import ws_tokens

    v = docs.select("source", F.explode(ws_tokens("text")).alias("term")).distinct()
    sz = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = v.select(F.col("source").alias("source1"), "term")
    b = v.select(F.col("source").alias("source2"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("source1") < F.col("source2"))
        .groupBy("source1", "source2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    s1 = sz.select(F.col("source").alias("source1"), F.col("n").alias("n1"))
    s2 = sz.select(F.col("source").alias("source2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(s1), "source1")
        .join(F.broadcast(s2), "source2")
        .select(
            "source1",
            "source2",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


_NESTED_FRAC = (
    "(CAST('0x' || substr(md5('nest|' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)"
    " / 268435456.0)"
)


@register(
    "nested_subsets",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_NESTED_FRAC} AS frac, unnest({SQL_TOKS}) AS term
  FROM documents
),
wide AS (
  SELECT
    CAST(count(DISTINCT CASE WHEN frac < 0.01 THEN doc_id END) AS BIGINT) AS d1,
    CAST(sum(CASE WHEN frac < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
    CAST(count(DISTINCT CASE WHEN frac < 0.01 THEN term END) AS BIGINT) AS v1,
    CAST(count(DISTINCT CASE WHEN frac < 0.1 THEN doc_id END) AS BIGINT) AS d10,
    CAST(sum(CASE WHEN frac < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS t10,
    CAST(count(DISTINCT CASE WHEN frac < 0.1 THEN term END) AS BIGINT) AS v10,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS d100,
    CAST(count(*) AS BIGINT) AS t100,
    CAST(count(DISTINCT term) AS BIGINT) AS v100
  FROM tok
)
SELECT 'pct1' AS subset, d1 AS n_docs, t1 AS n_tokens, v1 AS vocab FROM wide
UNION ALL SELECT 'pct10', d10, t10, v10 FROM wide
UNION ALL SELECT 'pct100', d100, t100, v100 FROM wide
""",
    tags=("sampling", "llm", "governance"),
)
def q_nested_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaling-law corpus ladder: NESTED 1% / 10% / 100% subsets by id
    hash (frac < 0.01 ⊂ frac < 0.1 ⊂ all — each rung contains the
    previous by construction, the property scaling-law experiments
    require so curves differ by data QUANTITY only), with per-rung
    document, token-occurrence, and vocabulary counts (the Heaps-law
    inputs). One tokenize scan computes all three rungs as CONDITIONAL
    aggregates (sum/count-distinct over CASE) — never three corpus
    passes; the hash is the repo's portable md5 fraction so membership
    never changes as the corpus grows and the oracle replays it
    textually. The 1-row wide aggregate unpivots to 3 rows driver-free."""
    from is3107datapipelineproject_spark.operators.sampling import hash_unit
    from is3107datapipelineproject_spark.operators.text import ws_tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        hash_unit("doc_id", "nest").alias("frac"),
        F.explode(ws_tokens("text")).alias("term"),
    )

    def _cond(th):
        c = F.col("frac") < th
        return [
            F.countDistinct(F.when(c, F.col("doc_id"))).cast("long"),
            F.sum(F.when(c, 1).otherwise(0)).cast("long"),
            F.countDistinct(F.when(c, F.col("term"))).cast("long"),
        ]

    d1, t1, v1 = _cond(0.01)
    d10, t10, v10 = _cond(0.1)
    wide = tok.agg(
        d1.alias("d1"), t1.alias("t1"), v1.alias("v1"),
        d10.alias("d10"), t10.alias("t10"), v10.alias("v10"),
        F.countDistinct("doc_id").cast("long").alias("d100"),
        F.count(F.lit(1)).cast("long").alias("t100"),
        F.countDistinct("term").cast("long").alias("v100"),
    )
    return wide.selectExpr(
        "stack(3, 'pct1', d1, t1, v1, 'pct10', d10, t10, v10, 'pct100', d100, t100, v100)"
        " AS (subset, n_docs, n_tokens, vocab)"
    )


@register(
    "embedding_skyline",
    oracle="""
WITH pts AS (
  SELECT vec_id,
         CAST(embedding[1] AS DOUBLE) AS d0,
         CAST(embedding[2] AS DOUBLE) AS d1,
         CAST(embedding[3] AS DOUBLE) AS d2
  FROM embeddings
)
SELECT a.vec_id, a.d0, a.d1, a.d2
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.d0 <= a.d0 AND b.d1 <= a.d1 AND b.d2 <= a.d2
    AND (b.d0 < a.d0 OR b.d1 < a.d1 OR b.d2 < a.d2))
""",
    tags=("similarity", "skyline", "llm"),
)
def q_embedding_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D Pareto frontier over the first three embedding features
    (operators/skyline.py::skyline_nd) — multi-criteria selection the
    2-D window sweep cannot express (no total order exists at 3+
    dims). Runs the classic distributed skyline: a mapInPandas kernel
    folds each partition's Arrow batches into a running local frontier
    (dominance is transitive, so per-partition pruning is lossless),
    then the frontier-sized candidate union resolves on one task. The
    result is a pure set property of the input — partitioning- and
    batch-boundary-independent — which the quadratic NOT-EXISTS oracle
    replays. Float compares are exact (float→double widening), so no
    rounding contract is needed."""
    from is3107datapipelineproject_spark.operators.skyline import skyline_nd

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("d0"),
        F.col("embedding")[1].cast("double").alias("d1"),
        F.col("embedding")[2].cast("double").alias("d2"),
    )
    return skyline_nd(emb, "vec_id", ["d0", "d1", "d2"])


# --- global set-similarity join (prefix filtering / PPJoin) -------------------

@register(
    "prefix_filter_jaccard",
    oracle=f"""
WITH sh AS ({SQL_DOCS_SHINGLES})
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
             / (CAST(len(a.hs) + len(b.hs) AS DOUBLE) - len(list_intersect(a.hs, b.hs))),
             4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
            / (CAST(len(a.hs) + len(b.hs) AS DOUBLE) - len(list_intersect(a.hs, b.hs))),
            4) >= 0.8
""",
    tags=("dedup", "llm"),
)
def q_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL exact shingle-Jaccard >= 0.8 over ALL doc pairs -- no
    blocking key, no sketch -- via prefix filtering (PPJoin): candidates
    only from docs sharing a shingle among their df-rarest prefix, plus
    lossless size and positional prunes; exact verify after. The EXACT
    counterpart of minhash_neardup on the SAME shingle-hash sets (LSH
    trades recall for speed; this plan trades nothing -- the oracle is
    the quadratic ground truth over every pair and the filters are
    provably lossless), while shuffling only short rare-shingle
    postings instead of n^2 pairs."""
    return D.prefix_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.8
    )


@register(
    "incremental_prefix_jaccard",
    oracle=f"""
WITH sh AS ({SQL_DOCS_SHINGLES})
SELECT n.doc_id AS new_id, o.doc_id AS old_id,
       round(CAST(len(list_intersect(n.hs, o.hs)) AS DOUBLE)
             / (CAST(len(n.hs) + len(o.hs) AS DOUBLE) - len(list_intersect(n.hs, o.hs))),
             4) AS jaccard
FROM sh n JOIN sh o ON n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
WHERE round(CAST(len(list_intersect(n.hs, o.hs)) AS DOUBLE)
            / (CAST(len(n.hs) + len(o.hs) AS DOUBLE) - len(list_intersect(n.hs, o.hs))),
            4) >= 0.8
""",
    tags=("dedup", "incremental", "llm"),
)
def q_incremental_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT incremental ingest dedup (operators/dedup.py::
    incremental_prefix_jaccard): the doc_id %% 5 == 0 slice plays the
    arriving batch, checked against the rest of the corpus for TRUE
    shingle-Jaccard >= 0.8 via the lossless PPJoin prefix/size/
    positional prunes -- the exact tier of the every-batch loop that
    incremental_neardup covers with MinHash bands (which can miss
    pairs; this cannot, so the oracle is the quadratic new x old ground
    truth). The batch's prefix postings broadcast onto the corpus
    posting stream -- the corpus never shuffles; the streaming twin
    with PERSISTED drift-free postings is
    streaming.windows::prefix_ingest_sink (stream==batch asserted in
    tests)."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    return D.incremental_prefix_jaccard(old, new, "text", "doc_id", threshold=0.8)


# ---- MMR diversified retrieval ---------------------------------------------

_MMR_LAMBDA = 0.5
_MMR_K = 5  # selections per query
_MMR_CAND = 20  # candidate pool = cosine top-20
_MMR_NQ = 5  # query vectors: vec_id < 5


def _mmr_oracle() -> str:
    steps = []
    prev = "sel1"
    for k in range(2, _MMR_K + 1):
        steps.append(f"""
rem{k} AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                    WHERE p.query_id = c.query_id AND p.neighbor_id = c.neighbor_id)
),
pen{k} AS (
  SELECT s.query_id, s.a AS neighbor_id, max(s.sim) AS pen
  FROM sims s JOIN {prev} p ON s.query_id = p.query_id AND s.b = p.neighbor_id
  GROUP BY 1, 2
),
pick{k} AS (
  SELECT query_id, neighbor_id, {k} AS step
  FROM (SELECT r.query_id, r.neighbor_id,
               row_number() OVER (PARTITION BY r.query_id
                                  ORDER BY round({_MMR_LAMBDA} * r.cosine - {1 - _MMR_LAMBDA} * p.pen, 6) DESC,
                                           r.neighbor_id) AS rk
        FROM rem{k} r JOIN pen{k} p
        ON r.query_id = p.query_id AND r.neighbor_id = p.neighbor_id)
  WHERE rk = 1
),
sel{k} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{k})""")
        prev = f"sel{k}"
    chain = ",".join(steps)
    return f"""
WITH e AS ({SQL_EMB}),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_MMR_NQ}),
s0 AS (
  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
  FROM e, q WHERE e.vec_id <> q.qid
),
cand AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM s0)
  WHERE rank <= {_MMR_CAND}
),
sims AS (
  SELECT c1.query_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
         round(list_cosine_similarity(ea.v, eb.v), 4) AS sim
  FROM cand c1
  JOIN cand c2 ON c1.query_id = c2.query_id AND c1.neighbor_id <> c2.neighbor_id
  JOIN e ea ON ea.vec_id = c1.neighbor_id
  JOIN e eb ON eb.vec_id = c2.neighbor_id
),
sel1 AS (SELECT query_id, neighbor_id, 1 AS step FROM cand WHERE rank = 1),
{chain}
SELECT s.query_id, CAST(s.step AS INT) AS step, s.neighbor_id, c.cosine
FROM {prev} s JOIN cand c ON s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id
"""


@register(
    "mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("similarity", "llm"),
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified retrieval (Carbonell &
    Goldstein 1998): greedily select 5 of the cosine top-20 candidates
    per query, each step taking argmax of λ·rel(q,d) − (1−λ)·max_{s∈S}
    sim(d,s) — the rerank that stops a result page from being five
    near-copies of the same document, and the standard post-ANN step in
    retrieval-augmented pipelines. Scale shape: the expensive part is
    the candidate generation (cosine_topk's broadcast-queries × corpus
    scan, shared machinery); everything after operates on CHECKPOINTED
    candidate frames bounded by queries × 20 rows (pairwise sim table:
    queries × 20×19) — the greedy loop unrolls into 4 anti-join +
    window-argmax rounds over those tiny frames, each window
    partitioned by query_id. Determinism: cosine and pairwise sims
    round to 4 before any ranking, the MMR score rounds to 6 before its
    argmax, all ties break on neighbor_id — both engines walk
    identical greedy paths."""
    from is3107datapipelineproject_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    cand = (
        S.cosine_topk(
            emb, emb.filter(F.col("vec_id") < _MMR_NQ), "vec_id", "embedding",
            k=_MMR_CAND,
        )
        .select("query_id", "neighbor_id", "cosine")
        .localCheckpoint(eager=False)
    )
    v = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"),
        S.l2_norm(F.col("embedding").cast("array<double>")).alias("nrm"),
    )
    c1 = cand.select("query_id", F.col("neighbor_id").alias("a"))
    c2 = cand.select("query_id", F.col("neighbor_id").alias("b"))
    pairs = c1.join(c2, "query_id").filter(F.col("a") != F.col("b"))
    va = v.select(F.col("vec_id").alias("a"), F.col("v").alias("av"), F.col("nrm").alias("an"))
    vb = v.select(F.col("vec_id").alias("b"), F.col("v").alias("bv"), F.col("nrm").alias("bn"))
    sims = (
        pairs.join(va, "a")
        .join(vb, "b")
        .select(
            "query_id", "a", "b",
            F.round(S.dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")), 4).alias("sim"),
        )
        .localCheckpoint(eager=False)
    )
    w1 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    selected = (
        cand.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") == 1)
        .select("query_id", "neighbor_id", F.lit(1).alias("step"))
    )
    for k in range(2, _MMR_K + 1):
        rem = cand.join(
            selected.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_anti"
        )
        pen = (
            sims.join(
                selected.select("query_id", F.col("neighbor_id").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("neighbor_id"))
            .agg(F.max("sim").alias("pen"))
        )
        scored = rem.join(pen, ["query_id", "neighbor_id"]).withColumn(
            "sc",
            F.round(
                F.lit(_MMR_LAMBDA) * F.col("cosine")
                - F.lit(1 - _MMR_LAMBDA) * F.col("pen"),
                6,
            ),
        )
        wk = Window.partitionBy("query_id").orderBy(F.col("sc").desc(), "neighbor_id")
        pick = (
            scored.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") == 1)
            .select("query_id", "neighbor_id", F.lit(k).alias("step"))
        )
        # Checkpoint per greedy round: without this, round k's anti-join
        # and argmax-window re-derive rounds 1..k-1's whole subtree and the
        # plan grows multiplicatively with _MMR_K (242 exchanges / 121
        # sort-merge joins at K=5). Same inter-pass lesson as the rfm
        # multi-rank chain. The frame is bounded by queries x K rows.
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected.join(cand, ["query_id", "neighbor_id"]).select(
        "query_id", F.col("step").cast("int").alias("step"), "neighbor_id", "cosine"
    )


@register(
    "embedding_release_drift",
    oracle=f"""
WITH e AS (
  SELECT vec_id,
         CASE WHEN (CAST('0x' || substr(md5('embdrift|' || CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT)
                    / 268435456.0) < 0.5 THEN 'A' ELSE 'B' END AS rel,
         embedding
  FROM embeddings
),
x AS (
  SELECT rel, i AS dim,
         CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS xi
  FROM (SELECT rel, embedding, unnest(generate_series(0, len(embedding) - 1)) AS i FROM e)
),
s AS (SELECT rel, dim, CAST(sum(xi) AS HUGEINT) AS sx, count(*) AS n FROM x GROUP BY 1, 2),
j AS (
  SELECT a.dim, a.sx AS sa, b.sx AS sb, a.n AS na, b.n AS nb
  FROM (SELECT * FROM s WHERE rel = 'A') a
  JOIN (SELECT * FROM s WHERE rel = 'B') b ON a.dim = b.dim
),
agg AS (
  SELECT max(na) AS n_a, max(nb) AS n_b,
         sum(sa * sb) AS dotab, sum(sa * sa) AS naa, sum(sb * sb) AS nbb
  FROM j
),
top AS (
  SELECT CAST(dim AS INT) AS top_drift_dim
  FROM j ORDER BY abs(sa * nb - sb * na) DESC, dim LIMIT 1
)
SELECT CAST(agg.n_a AS BIGINT) AS n_a, CAST(agg.n_b AS BIGINT) AS n_b,
       round(CAST(dotab AS DOUBLE) / (sqrt(CAST(naa AS DOUBLE)) * sqrt(CAST(nbb AS DOUBLE))), 4) AS mean_cosine,
       top.top_drift_dim
FROM agg, top
""",
    tags=("similarity", "diagnostics", "llm"),
)
def q_embedding_release_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two releases (simulated by the
    engine-wide content-hash split): cosine between the releases' MEAN
    vectors plus the dimension with the largest mean shift — the
    monitor that catches a re-embedded corpus whose vector space
    silently rotated (retrieval indexes built on release A are then
    invalid for release B queries). Determinism is the whole trick:
    per-dimension sums are exact BIGINT fixed-point (float32 → 6-dp
    micro-units), cosine(meanA, meanB) = cosine(sumA, sumB) because
    cosine ignores the 1/n scaling — so no float accumulates anywhere;
    products go DECIMAL(38,0)/HUGEINT, two sqrts and one division at
    the end, and the top-drift dim compares |sa·nb − sb·na| cross-
    multiplied integers. One posexplode pass, partial-agged to
    2×64 dimension rows."""
    from is3107datapipelineproject_spark.operators.sampling import hash_unit

    e = _t(spark, sf_dir, "embeddings").select(
        F.when(hash_unit("vec_id", "embdrift") < 0.5, "A").otherwise("B").alias("rel"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "xv"),
    )
    s = (
        e.select("rel", "dim", F.round(F.col("xv") * 1000000).cast("long").alias("xi"))
        .groupBy("rel", "dim")
        .agg(F.sum(F.col("xi").cast("decimal(38,0)")).alias("sx"), F.count(F.lit(1)).alias("n"))
    )
    a = s.filter(F.col("rel") == "A").select(
        "dim", F.col("sx").alias("sa"), F.col("n").alias("na")
    )
    b = s.filter(F.col("rel") == "B").select(
        "dim", F.col("sx").alias("sb"), F.col("n").alias("nb")
    )
    j = a.join(b, "dim").localCheckpoint(eager=False)
    agg = j.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.sum(F.col("sa") * F.col("sb")).alias("dotab"),
        F.sum(F.col("sa") * F.col("sa")).alias("naa"),
        F.sum(F.col("sb") * F.col("sb")).alias("nbb"),
    )
    top = (
        j.select(
            F.col("dim").cast("int").alias("top_drift_dim"),
            F.abs(F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).alias("dd"),
        )
        .orderBy(F.col("dd").desc(), "top_drift_dim")
        .limit(1)
        .drop("dd")
    )
    return agg.crossJoin(F.broadcast(top)).select(
        "n_a",
        "n_b",
        F.round(
            F.col("dotab").cast("double")
            / (F.sqrt(F.col("naa").cast("double")) * F.sqrt(F.col("nbb").cast("double"))),
            4,
        ).alias("mean_cosine"),
        "top_drift_dim",
    )


_RRF_K = 60  # standard RRF damping constant (Cormack et al. 2009)


@register(
    "rrf_fusion",
    oracle=f"""
WITH e AS ({SQL_EMB}),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
vec0 AS (
  SELECT e.vec_id AS doc_id, round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
  FROM e, q WHERE e.vec_id <> 0
),
vec AS (
  SELECT doc_id, CAST(vrank AS INT) AS vec_rank
  FROM (SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS vrank FROM vec0)
  WHERE vrank <= 20
),
lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS lex_rank
  FROM ({_bm25_oracle()}) b
),
fused AS (
  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, lex.lex_rank, vec.vec_rank,
         round(COALESCE(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + vec.vec_rank), 0.0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
""",
    tags=("similarity", "search", "llm"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al.
    2009): merge the BM25 lexical top-20 and the cosine vector top-20
    by Σ 1/(60 + rank) — the zero-tuning fusion every hybrid RAG
    retriever starts with, robust precisely because it consumes only
    RANKS (no cross-system score calibration). Both arms are the
    engine's existing primitives (bm25_search's inverted-index probe,
    cosine_topk's broadcast-query scan); the fusion itself is a
    full-outer join of two ≤20-row frames, so its cost is the arms'
    cost and nothing more. Ranks are integers and 1/(60+r) is one
    fixed-order float expression rounded at 6 — both engines fuse
    identically."""
    from is3107datapipelineproject_spark.operators import similarity as S
    from is3107datapipelineproject_spark.operators import text as X

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = X.bm25_search(docs, "text", "doc_id", _BM25_TERMS)
    lw = Window.orderBy(F.col("score").desc(), "doc_id")  # <= top_n=20 rows
    lex = lex.select("doc_id", F.row_number().over(lw).cast("int").alias("lex_rank"))
    vec = (
        S.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=20)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("int").alias("vec_rank"),
        )
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round(
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)


def _ivf_sweep_oracle() -> str:
    parts = []
    for p in (1, 2, 4):
        parts.append(f"""
SELECT {p} AS probes,
       round(CAST((
         SELECT count(*)
         FROM exact x JOIN (
           SELECT query_id, neighbor_id FROM (
             SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
             FROM (
               SELECT pr.qid AS query_id, e.vec_id AS neighbor_id,
                      round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
               FROM (SELECT qid, bucket FROM probe_ranks WHERE prank <= {p}) pr
               JOIN e ON e.label = pr.bucket
               JOIN q ON q.qid = pr.qid
               WHERE e.vec_id <> pr.qid
             ) s
           ) WHERE rank <= 5
         ) i ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
       ) AS DOUBLE) / (SELECT count(*) FROM exact), 4) AS mean_recall_at_5""")
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH e AS ({SQL_EMB}),
per AS ({SQL_CENTROID_COMPONENTS}),
cents AS (SELECT bucket, list(c ORDER BY pos) AS centroid FROM per GROUP BY 1),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
probe_ranks AS (
  SELECT q.qid, c.bucket,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY round(list_cosine_similarity(c.centroid, q.qv), 4) DESC, c.bucket
         ) AS prank
  FROM q, cents c
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
      SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
      FROM e, q WHERE e.vec_id <> q.qid
    ) s
  ) WHERE rank <= 5
)
{body}
"""


@register(
    "ivf_probe_sweep",
    oracle=_ivf_sweep_oracle(),
    tags=("similarity", "llm", "stats"),
)
def q_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: mean recall@5 against exact brute force at
    probes ∈ {1, 2, 4} in one report — the table that picks the
    recall/cost operating point BEFORE a 100 TB index build, since
    per-query scan cost is ∝ probes/#buckets of the corpus while recall
    saturates (ann_recall is the single point probes=2; this is the
    curve around it). Ground truth is ONE checkpointed brute-force pass
    over the 50-query sample; the sweep points all derive from ONE
    scored candidate pass (operators/similarity.py::ivf_topk_sweep —
    r13, guide §2: the probe ranking is probe-count-independent, so
    filtering the max-probes candidates by probe rank reproduces each
    point's ivf_topk bit-for-bit; previously each point recomputed
    centroids, probe ranks and cosines. A production sweep would read
    the persisted index of ann_index_build). Mean recall is an exact
    hit-count ratio, rounded once."""
    from is3107datapipelineproject_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    exact = (
        S.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    sweep = S.ivf_topk_sweep(
        emb, queries, "vec_id", "embedding", "label", probes_list=(1, 2, 4), k=5
    )
    out = None
    for p in (1, 2, 4):
        ivf = (
            sweep.filter(F.col("probes") == p)
            .select("query_id", "neighbor_id")
            .withColumn("__hit", F.lit(1))
        )
        row = (
            exact.join(ivf, ["query_id", "neighbor_id"], "left")
            .agg(
                F.round(
                    F.count("__hit").cast("double") / F.count(F.lit(1)), 4
                ).alias("mean_recall_at_5")
            )
            .select(F.lit(p).alias("probes"), "mean_recall_at_5")
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "title_edit_neardup",
    oracle="""
WITH base AS (
  SELECT doc_id AS tid, substr(text, 1, 32) AS tt FROM documents WHERE n_chars >= 40
),
corpus AS (
  SELECT tid, tt FROM base
  UNION ALL
  SELECT tid + 10000000, substr(tt, 1, 6) || 'z' || substr(tt, 8) FROM base WHERE tid % 31 = 5
  UNION ALL
  SELECT tid + 20000000, substr(tt, 1, 19) || substr(tt, 21) FROM base WHERE tid % 31 = 17
),
g AS (
  SELECT min(tid) AS tid, tt, CAST(count(*) AS BIGINT) AS grp FROM corpus GROUP BY tt
),
idx AS (
  SELECT tid, 1 AS chunk, 16 AS clen, substr(tt, 1, 16) AS sub FROM g
  UNION ALL
  SELECT tid, 2, CAST(length(tt) - 16 AS INT), substr(tt, 17) FROM g
),
probe AS (
  SELECT tid AS pid, 1 AS chunk, 16 AS clen, substr(tt, 1, 16) AS sub FROM g
  UNION ALL SELECT tid, 2, CAST(length(tt) - 15 AS INT), substr(tt, 16, length(tt) - 15) FROM g
  UNION ALL SELECT tid, 2, CAST(length(tt) - 16 AS INT), substr(tt, 17, length(tt) - 16) FROM g
  UNION ALL SELECT tid, 2, CAST(length(tt) - 17 AS INT), substr(tt, 18, length(tt) - 17) FROM g
),
cand AS (
  SELECT DISTINCT least(i.tid, p.pid) AS a, greatest(i.tid, p.pid) AS b
  FROM idx i
  JOIN probe p ON i.chunk = p.chunk AND i.clen = p.clen AND i.sub = p.sub
  WHERE i.tid <> p.pid AND length(p.sub) = p.clen
)
SELECT c.a, c.b, CAST(levenshtein(x.tt, y.tt) AS INT) AS lev,
       x.grp AS na, y.grp AS nb
FROM cand c JOIN g x ON x.tid = c.a JOIN g y ON y.tid = c.b
WHERE levenshtein(x.tt, y.tt) <= 1
""",
    tags=("dedup", "llm"),
)
def q_title_edit_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (lev ≤ 1) title dedup via the PassJoin partition
    scheme (Li, Deng & Feng, ICDE 2011; operators/dedup.py::
    edit_neardup_pairs) — the character-level tier of the dedup matrix:
    MinHash/PPJoin are blind to single-character edits inside tokens
    (one typo changes a whole shingle), while PassJoin finds exactly
    the lev≤1 pairs with an equi-join on 9 substring keys per DISTINCT
    title — no all-pairs stage, no UDF (the verify is the codegen
    ``levenshtein`` builtin). Identical titles collapse to a min-id
    representative with a group size FIRST (exact duplicates are the
    exact_dedup tier's job; a pair list over a b-member identical
    group is inherently C(b,2) — the ×100 probe's corpus would emit
    1.25 B true pairs without the collapse). The synthetic corpus has
    no organic single-edit title twins, so the query PLANTS them (the
    pii_scrub convention): every 31st doc contributes a
    one-substitution variant (+1e7 id) and every 31st-offset-17 a
    one-deletion variant (+2e7 id) — both expressions replayed
    verbatim in the oracle, exercising the substitution AND the
    length-changing shift paths of the pigeonhole."""
    from is3107datapipelineproject_spark.operators.dedup import edit_neardup_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 40)
    base = docs.select(
        F.col("doc_id").alias("tid"), F.substring("text", 1, 32).alias("tt")
    )
    va = base.filter(F.col("tid") % 31 == 5).select(
        (F.col("tid") + 10000000).alias("tid"),
        F.concat(
            F.substring("tt", 1, 6), F.lit("z"), F.substring("tt", 8, 1 << 30)
        ).alias("tt"),
    )
    vb = base.filter(F.col("tid") % 31 == 17).select(
        (F.col("tid") + 20000000).alias("tid"),
        F.concat(F.substring("tt", 1, 19), F.substring("tt", 21, 1 << 30)).alias("tt"),
    )
    corpus = base.unionByName(va).unionByName(vb)
    return edit_neardup_pairs(corpus, "tid", "tt")


@register(
    "incremental_edit_neardup",
    oracle="""
WITH base AS (
  SELECT doc_id AS tid, substr(text, 1, 32) AS tt FROM documents WHERE n_chars >= 40
),
corpus AS (
  SELECT tid, tt FROM base
  UNION ALL
  SELECT tid + 10000000, substr(tt, 1, 6) || 'z' || substr(tt, 8) FROM base WHERE tid % 31 = 5
  UNION ALL
  SELECT tid + 20000000, substr(tt, 1, 19) || substr(tt, 21) FROM base WHERE tid % 31 = 17
  UNION ALL
  SELECT tid + 30000000, tt FROM base WHERE tid % 43 = 9
  UNION ALL
  SELECT tid + 40000000, substr(tt, 1, 12) FROM base WHERE tid % 23 = 3
  UNION ALL
  SELECT tid + 50000000, substr(tt, 1, 11) || 'q' FROM base WHERE tid % 23 = 3
),
newb AS (SELECT * FROM corpus WHERE tid % 7 = 2),
oldc AS (SELECT * FROM corpus WHERE tid % 7 <> 2),
og AS (
  SELECT min(tid) AS old_id, tt, CAST(count(*) AS BIGINT) AS n_old
  FROM oldc GROUP BY tt
)
SELECT n.tid AS new_id, o.old_id, CAST(levenshtein(n.tt, o.tt) AS INT) AS lev, o.n_old
FROM newb n JOIN og o ON abs(length(n.tt) - length(o.tt)) <= 1
WHERE levenshtein(n.tt, o.tt) <= 1
""",
    tags=("dedup", "incremental", "llm"),
)
def q_incremental_edit_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest twin of title_edit_neardup (operators/
    dedup.py::incremental_edit_neardup) — the character-level tier of
    the every-batch dedup loop, completing the tier matrix: MinHash has
    incremental_neardup, PPJoin has incremental_prefix_jaccard, and the
    edit tier now probes an arriving batch (tid %% 7 == 2 of a planted
    corpus) against the rest for lev ≤ 1, new×old only. The oracle is
    the QUADRATIC new×old ground truth (a |Δlen| ≤ 1 band join + exact
    levenshtein — no replay of the blocking scheme, so the oracle
    would catch a lossy key grid), unlike the one-shot's
    scheme-replaying oracle; the boundary battery covers the
    structural seams. The planted corpus exercises BOTH tiers and the
    lev = 0 membership path: long substitution (+1e7) and deletion
    (+2e7) variants, exact copies (+3e7, join an existing group via
    the representative map with its summed n_old), and a short-title
    pair (12-char prefix +4e7 vs 11-char-prefix+'q' +5e7 — the
    symmetric-deletion tier the round-9 short-title fix added); the
    offsets shift tid mod 7, so every family lands on both sides of
    the split. Old side collapses to distinct-title representatives
    (min id, group size) — output is linear in the batch even against
    a boilerplate-saturated corpus. The streaming twin with persisted
    per-batch distinct-title state is streaming.windows::
    edit_ingest_sink (stream==batch asserted in tests)."""
    from is3107datapipelineproject_spark.operators.dedup import (
        incremental_edit_neardup,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 40)
    base = docs.select(
        F.col("doc_id").alias("tid"), F.substring("text", 1, 32).alias("tt")
    )
    va = base.filter(F.col("tid") % 31 == 5).select(
        (F.col("tid") + 10000000).alias("tid"),
        F.concat(
            F.substring("tt", 1, 6), F.lit("z"), F.substring("tt", 8, 1 << 30)
        ).alias("tt"),
    )
    vb = base.filter(F.col("tid") % 31 == 17).select(
        (F.col("tid") + 20000000).alias("tid"),
        F.concat(F.substring("tt", 1, 19), F.substring("tt", 21, 1 << 30)).alias("tt"),
    )
    vc = base.filter(F.col("tid") % 43 == 9).select(
        (F.col("tid") + 30000000).alias("tid"), "tt"
    )
    vs = base.filter(F.col("tid") % 23 == 3).select(
        (F.col("tid") + 40000000).alias("tid"), F.substring("tt", 1, 12).alias("tt")
    )
    vt = base.filter(F.col("tid") % 23 == 3).select(
        (F.col("tid") + 50000000).alias("tid"),
        F.concat(F.substring("tt", 1, 11), F.lit("q")).alias("tt"),
    )
    corpus = base.unionByName(va).unionByName(vb).unionByName(vc).unionByName(vs).unionByName(vt)
    new = corpus.filter(F.col("tid") % 7 == 2)
    old = corpus.filter(F.col("tid") % 7 != 2)
    return incremental_edit_neardup(old, new, "tid", "tt")
