"""Corpus-curation operators: PII scrubbing, token-budget mixing,
unigram-LM scoring, context-window chunking.

Beyond-reference surface (driver mandate): the remaining pre-training
curation steps a 100 TB pipeline runs between hygiene (dedup /
decontamination, operators.dedup / operators.contamination) and packing
(operators.packing):

- **PII scrubbing**: redact emails / phone-shaped strings with JVM
  ``regexp_replace`` + ``regexp_count`` — whole-stage-codegen column
  expressions, zero Python, zero shuffles. Scrubbing 100 TB costs one
  scan.
- **Token-budget mixing**: sample each source domain down to a target
  token budget (the "N tokens per domain" mixture spec of every LLM
  data recipe — rate-based mixing is operators.sampling.stratified_sample;
  this is the budget-based twin). Docs are ranked inside their source by
  content hash (reproducible shuffle order), then kept while the running
  token sum fits the budget: one window shuffle keyed by source. A
  single source too large for one task takes the two-level prefix sum of
  operators.packing.pack_sequences instead of the window.
- **Unigram-LM surprisal**: score each document by mean per-token
  surprisal under the corpus's own unigram distribution — the cheap,
  trainable-model-free stand-in for perplexity filtering (high = rare
  vocabulary / junk, low = repetitive boilerplate). The vocabulary is
  Heaps'-law bounded, so the token→frequency join broadcasts at any
  corpus size.
- **Chunking**: split documents into fixed-size overlapping token
  windows (training / RAG context windows). Entirely narrow — sequence +
  slice + posexplode per row, no shuffle at all; output size is
  input_tokens / stride.

Hash / normalization primitives are shared with operators.text and
operators.sampling, so DuckDB oracles derive from the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.operators.sampling import hash_unit
from is3107datapipelineproject_spark.operators.text import ws_tokens

# Scrub patterns: deliberately simple character classes that mean the
# same thing in Java regex (Spark) and RE2 (DuckDB oracle).
EMAIL_RE = "[a-z0-9._]+@[a-z0-9]+\\.[a-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> DataFrame:
    """Replace email / phone matches in ``text_col`` with redaction
    tokens and count what was removed: adds ``n_emails``, ``n_phones``
    (BIGINT) and rewrites ``text_col``. Pure narrow column expressions —
    the 100 TB cost is the scan."""
    c = F.col(text_col)
    return (
        df.withColumn("n_emails", F.regexp_count(c, F.lit(EMAIL_RE)).cast("long"))
        .withColumn("n_phones", F.regexp_count(c, F.lit(PHONE_RE)).cast("long"))
        .withColumn(
            text_col,
            F.regexp_replace(
                F.regexp_replace(c, EMAIL_RE, email_token), PHONE_RE, phone_token
            ),
        )
    )


def sample_to_token_budget(
    df: DataFrame,
    group_col: str,
    token_count_col: str,
    budget: int,
    id_col: str,
    salt: str = "budget",
) -> DataFrame:
    """Keep a hash-ordered prefix of each group whose cumulative token
    count stays within ``budget``: the deterministic "sample N tokens
    per domain" mixture operator.

    Rows are ordered inside their group by (content hash, id) — a
    reproducible random order, so re-runs and corpus repartitioning keep
    the same rows — and a row survives iff the running sum THROUGH it is
    ≤ budget (every kept doc is whole; no mid-document truncation).
    Output: input columns + ``cum_tokens``. One shuffle (the per-group
    window); a group larger than one task's memory takes the
    operators.packing two-level prefix sum instead.
    """
    from pyspark.sql import Window

    h = hash_unit(id_col, salt)
    w = (
        Window.partitionBy(group_col)
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_tokens", F.sum(token_count_col).over(w).cast("long"))
        .filter(F.col("cum_tokens") <= budget)
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean per-token surprisal (bits) of each document under the
    corpus's unigram distribution: ``(id_col, n_tokens, surprisal)``,
    surprisal = −(Σ_w tf·log2 p(w)) / n_tokens rounded to 4 decimals
    (fp summation-order tolerance, same contract as the similarity
    operators).

    Plan: one explode + hash-aggregate builds (doc, token, tf); the
    token→corpus-frequency map is a second aggregate over it — vocabulary
    rows only (Heaps-bounded), so the re-join broadcasts; the corpus
    token total is a 1-row aggregate attached by broadcast cross join.

    (tf, vocab) are multi-consumer subplans and Spark's exchange reuse
    does not dedupe them on a fresh plan (same recompute trap as the
    MinHash bucket frame, operators/dedup.py) — without materialization
    the corpus scan+explode runs THREE times. Both are localCheckpoint'ed:
    the CPU-heavy explode/aggregate executes exactly once, vocab (tiny)
    once; the trade is executor-local storage of the (doc, token, tf)
    frame, which is what every multi-pass consumer of a tokenized corpus
    pays.
    """
    toks = df.select(F.col(id_col), F.explode(ws_tokens(text_col)).alias("__tok"))
    tf = (
        toks.groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        tf.groupBy("__tok").agg(F.sum("__tf").alias("__cnt")).localCheckpoint(eager=False)
    )
    total = vocab.agg(F.sum("__cnt").alias("__total"))
    p = F.col("__cnt") / F.col("__total")
    return (
        tf.join(F.broadcast(vocab), "__tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("__tf").cast("long").alias("n_tokens"),
            F.round(
                -F.sum(F.col("__tf") * F.log2(p)) / F.sum("__tf"), 4
            ).alias("surprisal"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into fixed-size overlapping token windows:
    ``(id_col, chunk_id, n_chunk_tokens, chunk_text)``. Chunk i covers
    tokens [i·stride, i·stride + window); the last chunk may be short; a
    doc shorter than one window yields exactly one chunk.

    Entirely narrow — sequence/slice/posexplode inside the row, zero
    shuffles; 100 TB chunking parallelizes as the scan does.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = ws_tokens(text_col)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(window)) / F.lit(float(stride))).cast("int") + F.lit(1)
    )
    chunk = F.slice(F.col("__toks"), F.col("__i") * stride + 1, window)
    return (
        df.select(F.col(id_col), toks.alias("__toks"), n_chunks.alias("__nc"))
        .select(
            id_col,
            "__toks",
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("__i"),
        )
        .select(
            id_col,
            F.col("__i").cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def importance_resample(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """DSIR-flavored importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): re-weight
    the corpus toward a target domain using only unigram statistics.

    ``target_pred`` is a boolean Column selecting the in-domain example
    set (e.g. ``F.col("lang") == "en"``). Each document gets a
    log2-likelihood ratio per token,

        llr = Σ_w tf_w · (log2 p_tgt(w) − log2 p_src(w)) / n_tokens,

    with add-one smoothing over the SOURCE vocabulary on both models
    (so unseen-in-target tokens penalize rather than −∞). A document is
    kept with probability min(1, 2^llr) — target-like docs always
    survive, off-domain docs survive in proportion to their likelihood
    ratio — decided by the deterministic content hash of
    operators.sampling.hash_unit, so the resampled corpus is stable
    under re-runs, retries, and repartitioning.

    Output: kept rows only, ``(id_col, n_tokens, llr, weight)``; llr and
    weight rounded to 4 decimals BEFORE the keep decision (fp
    summation-order tolerance — same contract as the similarity
    operators).

    Plan: one explode + hash-aggregate builds (doc, token, tf) — reused
    (localCheckpoint, see unigram_surprisal for why) by both model
    aggregates; source and target vocabularies are Heaps-bounded, so
    their score maps broadcast; totals attach as 1-row broadcast cross
    joins. Scoring 100 TB = one tokenize pass + one broadcast-join
    rescan of the checkpointed tf frame. Sampling is a narrow filter.
    """
    toks = df.select(
        F.col(id_col),
        target_pred.alias("__tgt"),
        F.explode(ws_tokens(text_col)).alias("__tok"),
    )
    tf = (
        toks.groupBy(id_col, "__tgt", "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .localCheckpoint(eager=False)
    )
    src = tf.groupBy("__tok").agg(F.sum("__tf").alias("__src_cnt")).localCheckpoint(eager=False)
    tgt = (
        tf.filter(F.col("__tgt"))
        .groupBy("__tok")
        .agg(F.sum("__tf").alias("__tgt_cnt"))
    )
    vocab = src.join(F.broadcast(tgt), "__tok", "left").na.fill({"__tgt_cnt": 0})
    totals = vocab.agg(
        F.sum("__src_cnt").alias("__src_total"),
        F.sum("__tgt_cnt").alias("__tgt_total"),
        F.count(F.lit(1)).alias("__v"),
    )
    p_src = (F.col("__src_cnt") + 1) / (F.col("__src_total") + F.col("__v"))
    p_tgt = (F.col("__tgt_cnt") + 1) / (F.col("__tgt_total") + F.col("__v"))
    scored = (
        tf.join(F.broadcast(vocab), "__tok")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("__tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("__tf") * (F.log2(p_tgt) - F.log2(p_src))) / F.sum("__tf"), 4
            ).alias("llr"),
        )
    )
    weight = F.round(F.pow(F.lit(2.0), F.least(F.col("llr"), F.lit(0.0))), 4)
    return (
        scored.withColumn("weight", weight)
        .filter(hash_unit(id_col, salt) < F.col("weight"))
    )


# fasttext-style linear quality classifier: fixed, versioned weights (a
# stand-in for a trained model's coefficients — the deployment shape is
# identical: tiny weight vector compiled into the plan, never a join).
QC_WEIGHTS = {
    "bias": -3.0,
    "log_tokens": 0.55,  # enough content
    "ttr": 2.0,          # lexical diversity
    "punct": -4.0,       # punctuation soup penalty
    "stopword": 3.0,     # natural-language prior (English function words)
}


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality filtering (the fasttext/linear-classifier
    stage of CCNet/LLaMA-style pipelines): a logistic score over narrow
    text features,

        z = w·[1, log2(1+n_tokens), ttr, punct_ratio, stopword_ratio]
        quality_prob = sigmoid(z)

    Returns ``(id_col, quality_prob, is_quality)``. The "model" is a
    constant weight vector folded into the expression — scoring 100 TB
    is one scan in whole-stage codegen, no joins, no UDFs, and the
    plan's filter form (``is_quality``) pushes down to parquet like any
    other predicate.

    Determinism: z is a fixed-order linear combination of exact-rational
    features plus one log2, rounded to 6 before the (monotone) sigmoid,
    whose output rounds to 4 — the same transcendental-plus-round
    convention as unigram_surprisal, safe cross-engine.
    """
    from is3107datapipelineproject_spark.operators.text import (
        LANG_STOPWORDS,
        punct_ratio,
        stopword_ratio,
        type_token_ratio,
        ws_tokens,
    )

    w = QC_WEIGHTS
    n = F.size(ws_tokens(text_col)).cast("double")
    z = F.round(
        F.lit(w["bias"])
        + F.lit(w["log_tokens"]) * F.log2(F.lit(1.0) + n)
        + F.lit(w["ttr"]) * type_token_ratio(text_col)
        + F.lit(w["punct"]) * punct_ratio(text_col)
        + F.lit(w["stopword"]) * stopword_ratio(text_col, LANG_STOPWORDS["en"]),
        6,
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return df.select(
        F.col(id_col),
        prob.alias("quality_prob"),
        (prob >= F.lit(threshold)).alias("is_quality"),
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean per-bigram surprisal (bits) of each document under the
    corpus's OWN bigram conditional distribution — the next-order
    upgrade of ``unigram_surprisal`` (a doc of plausible words in an
    implausible ORDER scores high here and normal there):
    ``(id_col, n_bigrams, surprisal)`` with

        surprisal = −(Σ log2 C(w1,w2)/C(w1·)) / n_bigrams, rounded 4

    where C(w1·) counts w1 as a bigram PREFIX (so p(·|w1) sums to 1 and
    every observed bigram has p > 0 — MLE needs no smoothing when
    scoring the corpus against itself). Docs with < 2 tokens have no
    bigrams and drop out.

    Plan: bigrams come from a narrow zip of the token array with its
    own tail (no positional self-join); one hash-aggregate builds the
    bigram counts, a vocabulary-row aggregate over it builds the prefix
    counts, and the score join is keyed by the bigram — vocabulary² is
    Zipf-bounded far below corpus size, but unlike the unigram table it
    is NOT assumed broadcastable: the join shuffles on the bigram key
    and AQE may still broadcast when it fits. The exploded bigram frame
    feeds counts and the score join (multi-consumer) and is
    localCheckpoint'ed once, same discipline as unigram_surprisal.
    """
    arr = ws_tokens(text_col)
    pairs = F.filter(
        F.zip_with(
            arr,
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    bg = (
        df.select(F.col(id_col), F.explode(pairs).alias("__p"))
        .select(id_col, F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2"))
        .localCheckpoint(eager=False)
    )
    cb = bg.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__c")).localCheckpoint(eager=False)
    cp = cb.groupBy("__w1").agg(F.sum("__c").cast("long").alias("__cp"))
    p = F.col("__c").cast("double") / F.col("__cp").cast("double")
    return (
        bg.join(cb, ["__w1", "__w2"])
        .join(cp, "__w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum(F.log2(p)) / F.count(F.lit(1)), 4).alias("surprisal"),
        )
    )
