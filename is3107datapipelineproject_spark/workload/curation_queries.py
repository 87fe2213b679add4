"""Temporal-join + dataset-curation workload (extension surface).

Registers the operators in ``operators.temporal`` and
``operators.sampling`` as oracle-checked queries: as-of join, interval
join, hierarchical time rollup over ``events``; stratified sampling,
hash split, and per-group sampling over ``documents``. The oracles
exercise genuinely different engines (DuckDB's native ASOF JOIN vs our
union+window plan; a plain inequality join vs our bucketed band join),
so parity here validates SEMANTICS, not a shared implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window

from is3107datapipelineproject_spark.operators import curation as C
from is3107datapipelineproject_spark.operators import dedup as D
from is3107datapipelineproject_spark.operators import sampling as S
from is3107datapipelineproject_spark.operators import temporal as T
from is3107datapipelineproject_spark.operators import text as X
from is3107datapipelineproject_spark.sources.tables import load_table
from is3107datapipelineproject_spark.workload.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# md5-hash fraction primitive, oracle side (same contract as sampling.hash_unit)
def _sql_frac(salt: str, col: str) -> str:
    return (
        f"(CAST('0x' || substr(md5('{salt}|' || CAST({col} AS VARCHAR)), 1, 7) AS BIGINT)"
        " / 268435456.0)"
    )


@register(
    "asof_join",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
errors AS (
  SELECT user_id, ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts, e.ts AS asof_ts, e.err_value
FROM clicks c ASOF LEFT JOIN errors e
  ON c.user_id = e.user_id AND c.ts >= e.ts
""",
    tags=("temporal", "join"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each click is annotated with the latest
    preceding error (value) of the same user. Spark plan is the
    union+window as-of (one shuffle on user_id); the oracle is DuckDB's
    NATIVE ASOF JOIN — two independent formulations of the semantics."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    return T.asof_join(clicks, errors, key="user_id", right_cols=("err_value",))


@register(
    "interval_join",
    oracle="""
SELECT e.event_id AS err_id, c.event_id AS click_id,
       epoch_us(c.ts) - epoch_us(e.ts) AS delta_us
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND c.ts BETWEEN e.ts - INTERVAL 2 HOUR AND e.ts + INTERVAL 2 HOUR
""",
    tags=("temporal", "join"),
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: (error, click) pairs of the same user within
    ±2 hours. Spark plan is the bucketed band join (equi-join on
    (user, time-bucket), candidates bounded by bucket co-residency);
    the oracle is a plain inequality join."""
    e = _t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    pairs = T.interval_join(errors, clicks, key="user_id", tolerance_sec=7200)
    return pairs.select("err_id", "click_id", "delta_us")


@register(
    "time_rollup",
    oracle="""
SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
       CAST(GROUPING(date_trunc('day', ts)) AS INT) AS g_day,
       CAST(GROUPING(date_trunc('hour', ts)) AS INT) AS g_hour,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY ROLLUP(1, 2)
""",
    tags=("temporal", "agg"),
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: hourly, daily, and total
    event counts + value sums in one grouping-sets pass."""
    return T.time_rollup(_t(spark, sf_dir, "events"))


@register(
    "stratified_sample",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_sql_frac('strat', 'doc_id')} <
      CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.3 ELSE 0.1 END
""",
    tags=("sampling", "llm"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified Bernoulli sample (en 50%, zh 30%, rest 10%)
    by content-hash threshold — reproducible, partition-independent,
    narrow (no shuffle)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return S.stratified_sample(
        docs, "lang", {"en": 0.5, "zh": 0.3}, id_col="doc_id", default_rate=0.1
    )


@register(
    "hash_split",
    oracle=f"""
SELECT doc_id, source,
       CASE WHEN {_sql_frac('split', 'doc_id')} < 0.8 THEN 'train'
            WHEN {_sql_frac('split', 'doc_id')} < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    tags=("sampling", "llm"),
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by id hash — a
    row's split never changes as the corpus grows (no leakage across
    dataset versions)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return S.hash_split(docs, id_col="doc_id")


_MIX_WEIGHTS = {"src0": 4.0, "src1": 2.0, "src2": 1.0}
_MIX_TARGET = 30


@register(
    "mixture_sample",
    oracle=f"""
WITH w(source, w) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS.items())}),
c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
r AS (
  SELECT c.source, least(1.0, ({float(_MIX_TARGET)} * w.w / {float(sum(_MIX_WEIGHTS.values()))}) / c.n) AS rate
  FROM c JOIN w ON w.source = c.source
)
SELECT d.doc_id, d.source
FROM documents d JOIN r ON r.source = d.source
WHERE {_sql_frac('mix', 'd.doc_id')} < r.rate
""",
    tags=("sampling", "curation", "llm"),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing sample (operators/sampling.py::mixture_sample): hit a
    4:2:1 source mixture of ~30 docs — per-source rates derived from the
    observed counts (tiny agg, broadcast back), membership by content
    hash so the mixture is reproducible and append-stable."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return S.mixture_sample(
        docs, "source", "doc_id", _MIX_WEIGHTS, _MIX_TARGET
    ).select("doc_id", "source")


def _curation_oracle() -> str:
    # Reuse the text-pipeline SQL fragments so the composite cannot drift
    # from the standalone text_quality / exact_dedup / hash_split oracles.
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_NORM, SQL_TOKS

    frac = _sql_frac("split", "doc_id")
    return f"""
WITH t AS (SELECT doc_id, lang, text, {SQL_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, lang, text,
             CAST(len(toks) AS DOUBLE) AS n,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
               / length(text) AS pr
      FROM t),
q AS (SELECT doc_id, lang, text,
             round(0.5 * least(1.0, n / 100.0) + 0.3 * ttr + 0.2 * (1.0 - pr), 4) AS quality
      FROM m),
f AS (SELECT doc_id, lang, quality, md5({SQL_NORM}) AS fp FROM q WHERE quality >= 0.55),
k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM f)
SELECT doc_id, lang, quality,
       CASE WHEN {frac} < 0.8 THEN 'train'
            WHEN {frac} < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM k WHERE doc_id = keeper
"""


@register(
    "curation_pipeline",
    oracle=_curation_oracle(),
    tags=("llm", "dedup", "sampling", "composite"),
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation in one plan: quality-score
    filter (narrow) → exact-dedup min-id survivor (one shuffle on the
    content fingerprint) → deterministic train/val/test assignment
    (narrow hash threshold). The whole pipeline is a single scan plus
    one exchange — at 100 TB the quality predicate prunes before the
    shuffle, and the split label adds zero data movement."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    kept = docs.withColumn("quality", F.round(X.quality_score("text"), 4)).filter(
        F.col("quality") >= 0.55
    )
    fp = kept.withColumn("fp", D.exact_fingerprint("text"))
    survivors = (
        fp.withColumn("keeper", F.min("doc_id").over(Window.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "quality")
    )
    return S.hash_split(survivors, id_col="doc_id").select("doc_id", "lang", "quality", "split")


@register(
    "group_sample_topn",
    oracle=f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST('0x' || substr(md5('topn|' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT),
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 20
""",
    tags=("sampling", "llm"),
)
def q_group_sample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-docs-per-language sample: reproducible random
    order via id hash, one window shuffle, output bounded at
    n × #groups at any input scale."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return S.group_sample_topn(docs, "lang", 20, id_col="doc_id")


@register(
    "priority_sample",
    oracle="""
SELECT doc_id, source, n_chars, priority FROM (
  SELECT doc_id, source, n_chars,
         (CAST(n_chars AS BIGINT) * 268435456)
           // (CAST('0x' || substr(md5('prio|' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) + 1)
           AS priority
  FROM documents
) ORDER BY priority DESC, doc_id LIMIT 100
""",
    tags=("sampling", "llm"),
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted without-replacement sample of 100 docs via
    Duffield–Lund–Thorup priority sampling (operators/sampling.py):
    integer-exact priorities q = (w·2^28) div (h+1), global top-n as a
    TakeOrderedAndProject (per-partition heap, no corpus sort) — the
    principled 'sample big documents more' primitive with unbiased
    subset-sum estimates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return S.priority_sample(docs, id_col="doc_id", weight_col="n_chars", n=100).select(
        "doc_id", "source", "n_chars", "priority"
    )


# --- PII scrubbing ----------------------------------------------------------

# The synthetic corpus contains no PII (letters-only text), so the
# registered query PLANTS deterministic PII per doc_id first — the same
# expression on both sides — then exercises the scrubber for real: the
# redaction counts and the scrubbed-text fingerprint are non-trivial.
_SQL_PLANTED = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 2 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
)
_SQL_EMAIL = r"[a-z0-9._]+@[a-z0-9]+\.[a-z]+"
_SQL_PHONE = r"[0-9]{3}-[0-9]{4}"


@register(
    "pii_scrub",
    oracle=f"""
WITH p AS (SELECT doc_id, {_SQL_PLANTED} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_SQL_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_SQL_PHONE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_SQL_EMAIL}', '<EMAIL>', 'g'),
                          '{_SQL_PHONE}', '<PHONE>', 'g')) AS scrubbed_fp
FROM p
""",
    tags=("curation", "llm"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails and phone-shaped strings replaced by tokens,
    per-doc removal counts kept for audit. Pure JVM regexp column
    expressions — narrow, codegen'd, one scan at any corpus size."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    scrubbed = C.scrub_pii(docs.withColumn("text", planted))
    return scrubbed.select(
        "doc_id", "n_emails", "n_phones", F.md5("text").alias("scrubbed_fp")
    )


# --- token-budget domain mixing ---------------------------------------------

def _budget_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    frac = _sql_frac("budget", "doc_id")
    return f"""
WITH t AS (SELECT doc_id, source, CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY {frac}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM t)
SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 400
"""


@register("token_budget_sample", oracle=_budget_oracle(), tags=("curation", "sampling", "llm"))
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-based domain mixing: keep a reproducible hash-ordered
    prefix of each source worth ≤ 400 tokens (the "N tokens per domain"
    mixture spec; rate-based mixing is `stratified_sample`). One window
    shuffle keyed by source; a mega-source takes the packing-style
    two-level prefix sum instead."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.size(X.ws_tokens("text")).cast("long").alias("n_tokens"))
    )
    kept = C.sample_to_token_budget(
        docs, group_col="source", token_count_col="n_tokens", budget=400, id_col="doc_id"
    )
    return kept.select("doc_id", "source", "n_tokens", "cum_tokens")


# --- unigram-LM surprisal scoring -------------------------------------------

def _surprisal_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    return f"""
WITH toks AS (SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM vocab)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(-sum(tf * log2(cnt / total)) / sum(tf), 4) AS surprisal
FROM tf JOIN vocab USING (tok), tot
GROUP BY doc_id
"""


@register("unigram_perplexity", oracle=_surprisal_oracle(), tags=("curation", "text", "llm"))
def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-token surprisal under the corpus's own unigram LM — the
    model-free perplexity-filter stand-in (high = rare-vocabulary junk,
    low = repetitive boilerplate). Two shuffles total; the vocabulary
    side of the re-join is Heaps-bounded and broadcast."""
    return C.unigram_surprisal(_t(spark, sf_dir, "documents"))


# --- context-window chunking ------------------------------------------------

def _chunk_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    return f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks,
             greatest(1, CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1) AS nc
      FROM t),
c AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS i FROM n)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text
FROM c
"""


@register("chunk_documents", oracle=_chunk_oracle(), tags=("curation", "text", "llm"))
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token-window chunking (window 32, stride
    24) — training / RAG context windows. Entirely narrow: sequence +
    slice + explode inside the row, zero shuffles at any corpus size."""
    return C.chunk_tokens(_t(spark, sf_dir, "documents"), window=32, stride=24)


# --- output sharding --------------------------------------------------------

@register(
    "corpus_shards",
    oracle=f"""
SELECT CAST(floor({_sql_frac('shard', 'doc_id')} * 16) AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
""",
    tags=("sampling", "curation", "llm"),
)
def q_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-shard planner: content-hashed shard assignment (16 shards)
    plus per-shard balance stats (doc count, char volume). The
    assignment is narrow and partition-independent — the physical
    export is ``repartition(n, "shard_id")`` + partitioned write, one
    shuffle with uniform md5 keys, so no straggler shard at 100 TB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        S.shard_assignments(docs, id_col="doc_id", n_shards=16)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


# --- DSIR-style importance resampling ---------------------------------------

def _dsir_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    frac = _sql_frac("dsir", "doc_id")
    return f"""
WITH t AS (SELECT doc_id, lang = 'en' AS tgt, unnest({SQL_TOKS}) AS tok FROM documents),
tf AS (SELECT doc_id, tgt, tok, count(*) AS tf FROM t GROUP BY 1, 2, 3),
src AS (SELECT tok, sum(tf) AS src_cnt FROM tf GROUP BY 1),
tg  AS (SELECT tok, sum(tf) AS tgt_cnt FROM tf WHERE tgt GROUP BY 1),
vocab AS (SELECT s.tok, s.src_cnt, coalesce(g.tgt_cnt, 0) AS tgt_cnt
          FROM src s LEFT JOIN tg g USING (tok)),
tot AS (SELECT sum(src_cnt) AS st, sum(tgt_cnt) AS tt, count(*) AS v FROM vocab),
sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
              round(sum(tf * (log2((tgt_cnt + 1) / (tt + v))
                            - log2((src_cnt + 1) / (st + v)))) / sum(tf), 4) AS llr
       FROM tf JOIN vocab USING (tok), tot GROUP BY 1)
SELECT doc_id, n_tokens, llr, round(pow(2, least(llr, 0)), 4) AS weight
FROM sc WHERE {frac} < round(pow(2, least(llr, 0)), 4)
"""


@register("importance_resample", oracle=_dsir_oracle(), tags=("curation", "sampling", "llm"))
def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-flavored domain re-weighting: resample the corpus toward the
    English subset by unigram log-likelihood ratio — keep probability
    min(1, 2^llr) decided by content hash (reproducible). One tokenize
    pass; both LM score maps are Heaps-bounded broadcasts."""
    return C.importance_resample(
        _t(spark, sf_dir, "documents"), target_pred=F.col("lang") == "en"
    )


# --- corpus distribution stats ----------------------------------------------

@register(
    "length_quantiles",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY lang
""",
    tags=("curation", "stats", "llm"),
)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length percentiles (p50/p90/p99), the
    length-filter calibration report. Registered with EXACT
    linear-interpolation percentiles so the DuckDB oracle matches
    bit-for-bit; the 100 TB production twin swaps in
    ``approx_percentile`` (t-digest: mergeable partial aggregates, no
    per-group sort buffer) — same plan shape, bounded memory."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99"),
    )


# --- corpus-level curation gates --------------------------------------------

def _quality_decimal_sql() -> str:
    """Per-doc quality (same formula as text_quality) as an exact
    DECIMAL(8,4) so source-level means are order-free sums."""
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    return f"""
SELECT doc_id, source,
       CAST(round(0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                  + 0.3 * CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                  + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text,
                        '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE) / length(text)),
                  4) AS DECIMAL(8,4)) AS qd
FROM (SELECT doc_id, source, text, {SQL_TOKS} AS toks FROM documents)
"""


@register(
    "source_quality_filter",
    oracle=f"""
WITH q AS ({_quality_decimal_sql()}),
src AS (SELECT source, CAST(sum(qd) AS DOUBLE) / count(*) AS src_mean_quality
        FROM q GROUP BY 1),
tot AS (SELECT CAST(sum(qd) AS DOUBLE) / count(*) AS corpus_mean FROM q)
SELECT q.doc_id, q.source, src.src_mean_quality
FROM q JOIN src USING (source), tot
WHERE src.src_mean_quality >= tot.corpus_mean
""",
    tags=("curation", "text", "llm"),
)
def q_source_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style SOURCE-level curation gate: score every doc, roll the
    scores up per source, and keep only docs from sources whose mean
    quality clears the corpus mean. The doc frame never shuffles — the
    quality score is narrow, the per-source rollup aggregates to ~one
    row per source (map-side partial sums on an exact DECIMAL), and the
    tiny source table + 1-row corpus mean broadcast back onto the scan.
    Per-source means are sums of DECIMAL(8,4) (order-free) divided
    once, so the >= comparison is deterministic at any parallelism."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "source",
        F.round(X.quality_score("text"), 4).cast("decimal(8,4)").alias("qd"),
    )
    src = q.groupBy("source").agg(
        (F.sum("qd").cast("double") / F.count(F.lit(1))).alias("src_mean_quality")
    )
    tot = q.agg(
        (F.sum("qd").cast("double") / F.count(F.lit(1))).alias("corpus_mean")
    )
    return (
        q.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("src_mean_quality") >= F.col("corpus_mean"))
        .select("doc_id", "source", "src_mean_quality")
    )


def _lang_mismatch_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import (
        SQL_TOKS,
        _LANG_CASE,
        _LANG_HITS,
    )

    return f"""
WITH t AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, lang, {_LANG_HITS} FROM t),
g AS (SELECT *, greatest(hits_en, hits_de, hits_fr, hits_es) AS best FROM h),
p AS (SELECT doc_id, lang, CASE {_LANG_CASE} ELSE 'und' END AS pred_lang FROM g)
SELECT doc_id, lang, pred_lang FROM p
WHERE pred_lang <> 'und' AND pred_lang <> lang
"""


@register("lang_mismatch", oracle=_lang_mismatch_oracle(), tags=("curation", "text", "llm"))
def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content language audit: docs whose DECLARED lang tag
    disagrees with the stopword-profile prediction (confident
    predictions only — 'und' abstains). The standard crawl-hygiene gate
    before per-language sharding; fully narrow (predict + filter inside
    the scan stage, no shuffle), so it costs one pass at any scale."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", X.predict_lang("text").alias("pred_lang"))
        .filter((F.col("pred_lang") != "und") & (F.col("pred_lang") != F.col("lang")))
    )


@register(
    "perplexity_buckets",
    oracle=f"""
WITH s AS (SELECT doc_id, surprisal FROM ({_surprisal_oracle()})),
h AS (SELECT surprisal, count(*) AS c FROM s GROUP BY 1),
cum AS (SELECT surprisal, sum(c) OVER (ORDER BY surprisal) AS cc FROM h),
tot AS (SELECT count(*) AS n FROM s),
cuts AS (SELECT min(CASE WHEN cc >= ceil(n / 3.0) THEN surprisal END) AS cut1,
                min(CASE WHEN cc >= ceil(2 * n / 3.0) THEN surprisal END) AS cut2
         FROM cum, tot)
SELECT s.doc_id, s.surprisal,
       CASE WHEN s.surprisal <= cuts.cut1 THEN 'head'
            WHEN s.surprisal <= cuts.cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM s, cuts
""",
    tags=("curation", "text", "llm"),
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing WITHOUT a global
    sort: tercile cutoffs come from the cumulative histogram of the
    (4-dp-rounded, therefore boundedly-distinct) surprisal values — the
    histogram is vocabulary-sized, so its cumsum window is a one-
    partition no-op — and the two cutoff scalars broadcast back onto
    the doc frame. Equal surprisals always land in the same bucket
    (unlike ntile), which is what makes the assignment deterministic
    AND reproducible across reshards at 100 TB."""
    s = C.unigram_surprisal(_t(spark, sf_dir, "documents")).select("doc_id", "surprisal")
    h = s.groupBy("surprisal").agg(F.count(F.lit(1)).alias("c"))
    cum = h.withColumn(
        "cc",
        F.sum("c").over(Window.orderBy("surprisal").rowsBetween(Window.unboundedPreceding, 0)),
    )
    tot = h.agg(F.sum("c").alias("n"))
    cuts = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cc") >= F.ceil(F.col("n") / 3.0), F.col("surprisal"))
        ).alias("cut1"),
        F.min(
            F.when(F.col("cc") >= F.ceil(2 * F.col("n") / 3.0), F.col("surprisal"))
        ).alias("cut2"),
    )
    return s.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "surprisal",
        F.when(F.col("surprisal") <= F.col("cut1"), F.lit("head"))
        .when(F.col("surprisal") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _doc_features_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import (
        SQL_TOKS,
        _LANG_CASE,
        _LANG_HITS,
    )

    return f"""
WITH t AS (SELECT doc_id, lang, text, {SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, lang, text, toks, {_LANG_HITS} FROM t),
g AS (SELECT *, greatest(hits_en, hits_de, hits_fr, hits_es) AS best FROM h)
SELECT doc_id, lang,
       CASE {_LANG_CASE} ELSE 'und' END AS pred_lang,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
             + 0.3 * CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
             + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text,
                   '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE) / length(text)),
             4) AS quality
FROM g
"""


@register("document_features", oracle=_doc_features_oracle(), tags=("curation", "text", "llm"))
def q_document_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused feature extraction — the feature-store pass of a curation
    pipeline: declared + predicted language, token and char counts, and
    the composite quality score, all computed in ONE narrow projection
    over one scan (Catalyst CSEs the shared tokenization across the
    five features inside whole-stage codegen). At 100 TB this replaces
    five separate pipeline passes with one; every downstream gate
    (quality cutoffs, lang routing, length filters) is then a pushed
    predicate on a tiny features table."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        X.predict_lang("text").alias("pred_lang"),
        F.size(X.ws_tokens("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(X.quality_score("text"), 4).alias("quality"),
    )


# --- corpus governance: leakage / contamination reporting / dedup audit ------

def _leakage_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_DOCS_SHINGLES

    frac = _sql_frac("split", "doc_id")
    return f"""
WITH sh AS ({SQL_DOCS_SHINGLES}),
ev AS (SELECT DISTINCT unnest(hs) AS ngram_hash FROM sh WHERE {frac} >= 0.9),
tr AS (SELECT doc_id, unnest(hs) AS ngram_hash FROM sh WHERE {frac} < 0.9)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM tr JOIN ev USING (ngram_hash)
GROUP BY 1
"""


@register("split_leakage", oracle=_leakage_oracle(), tags=("hygiene", "sampling", "llm"))
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split leakage audit: after the deterministic 80/10/10
    hash split, flag every NON-test document sharing a word-3-gram with
    the held-out test split (`n_hits` = distinct leaked 3-grams). This
    is eval decontamination run against the pipeline's OWN split — the
    check that the dedup/split stages actually kept eval text out of
    train. Plan: test-side n-gram hashes (10% of corpus, distinct) are
    the semi-join build side against the exploded train n-grams — one
    shuffle, broadcastable at any corpus size the test split permits."""
    from is3107datapipelineproject_spark.operators.contamination import decontaminate

    docs = _t(spark, sf_dir, "documents")
    split = S.hash_split(docs.select("doc_id", "text"), id_col="doc_id")
    test = split.filter(F.col("split") == "test")
    train_side = split.filter(F.col("split") != "test")
    return decontaminate(train_side, test, "text", "doc_id", k=3)


def _contamination_report_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_DOCS_SHINGLES

    return f"""
WITH sh AS ({SQL_DOCS_SHINGLES}),
ev AS (SELECT DISTINCT unnest(hs) AS ngram_hash FROM sh WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, unnest(hs) AS ngram_hash FROM sh WHERE doc_id % 50 <> 0),
hits AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (ngram_hash))
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
       round(CAST(count(h.doc_id) AS DOUBLE) / count(*), 4) AS contaminated_share
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 50 <> 0
GROUP BY 1
"""


@register(
    "contamination_report",
    oracle=_contamination_report_oracle(),
    tags=("hygiene", "llm"),
)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination rate — the governance rollup over
    `decontaminate`: for each source, how many training docs carry
    eval-set 3-grams and what share of the source that is. The heavy
    work is the same one-shuffle semi-join as `decontaminate`; the
    report is a broadcast-joinable (doc_id) hit list folded into a
    per-source aggregate, so the fact table never shuffles twice."""
    from is3107datapipelineproject_spark.operators.contamination import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    hits = decontaminate(tr, ev, "text", "doc_id", k=3).select("doc_id")
    return (
        tr.select("doc_id", "source")
        .join(F.broadcast(hits.withColumn("__hit", F.lit(1))), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__hit").alias("n_contaminated"),
            F.round(F.count("__hit") / F.count(F.lit(1)), 4).alias("contaminated_share"),
        )
    )


def _dup_cluster_sizes_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_NORM

    return f"""
WITH g AS (
  SELECT md5({SQL_NORM}) AS fingerprint, CAST(count(*) AS BIGINT) AS n_copies
  FROM documents GROUP BY 1
)
SELECT n_copies, CAST(count(*) AS BIGINT) AS n_clusters
FROM g GROUP BY 1
"""


@register("dup_cluster_sizes", oracle=_dup_cluster_sizes_oracle(), tags=("dedup", "llm"))
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size histogram — the dedup audit stat
    (how much of the corpus is 1-copy vs heavy-tail boilerplate).
    Two partial-aggregatable shuffles, output rows = distinct cluster
    sizes (tiny at any corpus scale)."""
    groups = D.exact_dedup_groups(_t(spark, sf_dir, "documents"), "text", "doc_id")
    return groups.groupBy("n_copies").agg(F.count(F.lit(1)).alias("n_clusters"))


@register(
    "corpus_shuffle",
    oracle=f"""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY {_sql_frac('shuffle', 'doc_id')}, doc_id) AS BIGINT)
         AS shuffle_pos
FROM documents
""",
    tags=("sampling", "llm"),
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every document's 1-based position in
    the content-hash training order. The oracle is the single-window
    ``row_number() OVER (ORDER BY hash)``; the Spark plan is the
    two-level distributed rank (order-aligned hash buckets ranked in
    parallel + an n_buckets-row offset prefix) — no global sort, no
    single-partition window."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return S.deterministic_shuffle(docs, "doc_id")


def _data_card_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_NORM, SQL_TOKS

    return f"""
WITH q AS (
  SELECT doc_id, source, lang,
         CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(round(0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                    + 0.3 * CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                    + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text,
                          '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE) / length(text)),
                    4) AS DECIMAL(8,4)) AS qd,
         md5({SQL_NORM}) AS fp
  FROM (SELECT doc_id, source, lang, text, {SQL_TOKS} AS toks FROM documents)
),
s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(sum(qd) AS DOUBLE) / count(*) AS mean_quality,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique
  FROM q GROUP BY 1
),
lc AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
tl AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang, row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
    FROM lc
  ) WHERE rn = 1
)
SELECT s.source, n_docs, total_tokens, mean_quality,
       round(CAST(n_docs - n_unique AS DOUBLE) / n_docs, 4) AS dup_share,
       top_lang
FROM s JOIN tl USING (source)
"""


@register("data_card", oracle=_data_card_oracle(), tags=("curation", "governance", "llm"))
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset datasheet rollup — the per-source "data card" a corpus
    release ships with: document and token counts, order-free DECIMAL
    mean quality, exact-dup share (1 - distinct fingerprints / docs),
    and the dominant language (deterministic tie-break). One narrow
    feature projection feeds a per-source partial aggregate (~sources
    rows) plus a tiny (source, lang) count ranked for the mode — the
    corpus is scanned once and never shuffled; only aggregates move."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        F.size(X.ws_tokens("text")).cast("long").alias("n_toks"),
        F.round(X.quality_score("text"), 4).cast("decimal(8,4)").alias("qd"),
        D.exact_fingerprint("text").alias("fp"),
    )
    per_src = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        (F.sum("qd").cast("double") / F.count(F.lit(1))).alias("mean_quality"),
        F.countDistinct("fp").alias("n_unique"),
    )
    lang_counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("lang").asc())
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_src.join(F.broadcast(top_lang), "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "mean_quality",
            F.round((F.col("n_docs") - F.col("n_unique")).cast("double") / F.col("n_docs"), 4).alias("dup_share"),
            "top_lang",
        )
    )


_TEMP_TARGET = 40


@register(
    "temperature_sample",
    oracle=f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
s AS (SELECT sum(sqrt(n)) AS wsum FROM c),
r AS (
  SELECT c.source,
         round(least(1.0, ({float(_TEMP_TARGET)} * sqrt(c.n) / s.wsum) / c.n), 6) AS rate
  FROM c, s
)
SELECT d.doc_id, d.source
FROM documents d JOIN r ON r.source = d.source
WHERE {_sql_frac('temp', 'd.doc_id')} < r.rate
""",
    tags=("sampling", "curation", "llm"),
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (w_s proportional to
    sqrt(n_s), the alpha=0.5 multilingual rebalancing rule) toward ~40
    kept docs (operators/sampling.py::temperature_sample — weights
    derived from the observed counts, content-hash membership, narrow
    filter; no stale weights map to drift)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return S.temperature_sample(docs, "source", "doc_id", _TEMP_TARGET).select(
        "doc_id", "source"
    )


def _qc_oracle(threshold: float) -> str:
    # generated from the SAME weight constants as the Spark expression
    from is3107datapipelineproject_spark.operators.curation import QC_WEIGHTS as W
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    en = "'the', 'a', 'of', 'and', 'to', 'in', 'is'"
    return f"""
WITH t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents),
f AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
               / length(text) AS pr,
             CAST(len(list_filter(toks, tk -> list_contains([{en}], tk))) AS DOUBLE) / len(toks) AS sw
      FROM t),
z AS (SELECT doc_id,
             round({W["bias"]} + {W["log_tokens"]} * log2(1.0 + n) + {W["ttr"]} * ttr
                   + {W["punct"]} * pr + {W["stopword"]} * sw, 6) AS zz
      FROM f)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-zz)), 4) AS quality_prob,
       round(1.0 / (1.0 + exp(-zz)), 4) >= {threshold} AS is_quality
FROM z
"""


_QC_THRESHOLD = 0.78


@register(
    "quality_classifier",
    oracle=_qc_oracle(_QC_THRESHOLD),
    tags=("curation", "text", "llm"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fasttext-style linear quality classifier
    (operators/curation.py::quality_classifier): logistic score over
    log-token-count, lexical diversity, punctuation density, and
    English-stopword prior — constant weight vector folded into the
    scan expression, so model-scoring 100 TB is one codegen pass and
    the is_quality flag pushes down like any predicate."""
    docs = _t(spark, sf_dir, "documents")
    return C.quality_classifier(docs, "text", "doc_id", threshold=_QC_THRESHOLD)


_PRETRAIN_TARGET = 60
_PRETRAIN_MAX_HITS = 20  # >= this many shared eval 3-grams => leaked row, not a common phrase


def _pretrain_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_DOCS_SHINGLES

    frac = _sql_frac("temp", "b.doc_id")
    return f"""
WITH qc AS ({_qc_oracle(_QC_THRESHOLD)}),
sh AS ({SQL_DOCS_SHINGLES}),
ev AS (SELECT DISTINCT unnest(hs) AS g FROM sh WHERE doc_id < 100),
tr AS (SELECT doc_id, unnest(hs) AS g FROM sh WHERE doc_id >= 100),
hits AS (SELECT tr.doc_id FROM tr JOIN ev USING (g) GROUP BY 1 HAVING count(*) >= 20),
base AS (
  SELECT d.doc_id, d.source, qc.quality_prob
  FROM documents d JOIN qc USING (doc_id)
  WHERE d.doc_id >= 100 AND qc.is_quality
    AND d.doc_id NOT IN (SELECT doc_id FROM hits)
),
c AS (SELECT source, count(*) AS n FROM base GROUP BY 1),
s AS (SELECT sum(sqrt(n)) AS wsum FROM c),
r AS (
  SELECT c.source,
         round(least(1.0, ({float(_PRETRAIN_TARGET)} * sqrt(c.n) / s.wsum) / c.n), 6) AS rate
  FROM c, s
)
SELECT b.doc_id, b.source, b.quality_prob
FROM base b JOIN r ON r.source = b.source
WHERE {frac} < r.rate
"""


@register(
    "pretrain_pipeline",
    oracle=_pretrain_oracle(),
    tags=("llm", "curation", "hygiene", "sampling", "composite"),
)
def q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """This round's additions composed into ONE declarative plan — the
    pretraining-data assembly line: model-based quality gate
    (quality_classifier ≥ 0.78, pure codegen) → decontamination against
    the frozen benchmark (docs < 100; eval 3-gram set broadcast; only
    docs with >= 20 shared 3-grams drop — a leaked row, not a common
    phrase, per decontaminate's triage contract) → temperature-flattened source mixture (√n weights from
    the SURVIVING corpus — the rates adapt to what the gates kept).
    Catalyst fuses the gate into the scan, prunes columns through the
    anti-join, and the only corpus shuffle is the n-gram semi-join;
    membership stays content-hashed end to end, so the kept set is
    reproducible under retries and repartitioning at any scale."""
    from is3107datapipelineproject_spark.operators.contamination import decontaminate

    docs = _t(spark, sf_dir, "documents")
    scored = C.quality_classifier(docs, "text", "doc_id", threshold=_QC_THRESHOLD)
    bench = docs.filter(F.col("doc_id") < 100)
    train = docs.filter(F.col("doc_id") >= 100)
    hits = (
        decontaminate(train, bench, "text", "doc_id", k=3)
        .filter(F.col("n_hits") >= _PRETRAIN_MAX_HITS)
        .select("doc_id")
    )
    base = (
        train.join(scored, "doc_id")
        .filter(F.col("is_quality"))
        .join(hits, "doc_id", "left_anti")
        .select("doc_id", "source", "quality_prob")
    )
    mixed = S.temperature_sample(base, "source", "doc_id", n_target=_PRETRAIN_TARGET)
    return mixed.select("doc_id", "source", "quality_prob")


def _bigram_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    return f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
),
cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
cp AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cpn FROM cb GROUP BY 1)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-sum(log2(CAST(c AS DOUBLE) / cpn)) / count(*), 4) AS surprisal
FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1)
GROUP BY 1
"""


@register(
    "bigram_surprisal",
    oracle=_bigram_oracle(),
    tags=("curation", "text", "llm"),
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram surprisal under the corpus's own conditional bigram
    LM (operators/curation.py::bigram_surprisal) — the word-ORDER
    quality signal unigram perplexity is blind to; bigrams from a
    narrow tail-zip, counts from two hash-aggregates, score join keyed
    by the bigram (shuffled, not assumed broadcastable)."""
    docs = _t(spark, sf_dir, "documents")
    return C.bigram_surprisal(docs, "text", "doc_id")


def _blocklist_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    return f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(list_filter(toks, x -> x IN ('slow', 'error', 'crash'))) AS BIGINT) AS n_blocked,
       len(list_filter(toks, x -> x IN ('slow', 'error', 'crash'))) > 0 AS has_blocked
FROM t
"""


@register(
    "blocklist_filter",
    oracle=_blocklist_oracle(),
    tags=("curation", "text", "llm"),
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style wordlist gate (operators/text.py::blocklist_stats): the
    blocklist is a literal array folded into the row expression — zero
    joins, pure codegen scan (the inline tier; 10k+ lists become a
    broadcast semi-join on exploded tokens)."""
    docs = _t(spark, sf_dir, "documents")
    return X.blocklist_stats(docs, "text", "doc_id")


def _vocab_growth_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    return f"""
WITH m AS (SELECT max(doc_id) AS mx FROM documents),
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
b AS (SELECT CAST(least(9, (doc_id * 10) // (mx + 1)) AS INT) AS bucket, toks FROM t, m),
pb AS (SELECT bucket, CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM b GROUP BY 1),
fs AS (SELECT token, min(bucket) AS bucket
       FROM (SELECT bucket, unnest(toks) AS token FROM b) GROUP BY token),
nt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_types FROM fs GROUP BY 1)
SELECT pb.bucket,
       n_tokens,
       CAST(sum(n_tokens) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_tokens,
       CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
       CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_types
FROM pb LEFT JOIN nt USING (bucket)
"""


@register(
    "vocab_growth",
    oracle=_vocab_growth_oracle(),
    tags=("curation", "text", "llm"),
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve over 10 id-ordered corpus
    slices (operators/text.py::vocab_growth): new-type minting per slice
    — a flat tail flags template/boilerplate floods. Only bucket-sized
    frames ever sort; the corpus-side work is one explode aggregate."""
    docs = _t(spark, sf_dir, "documents")
    return X.vocab_growth(docs, "text", "doc_id")


def _zipf_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    return f"""
WITH counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({SQL_TOKS}) AS token FROM documents)
  GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 500
),
pts AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM counts
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       round(covar_pop(x, y) / var_pop(x), 4) AS slope,
       round(pow(covar_pop(x, y), 2) / nullif(var_pop(x) * var_pop(y), 0), 4) AS r2
FROM pts
"""


@register(
    "zipf_slope",
    oracle=_zipf_oracle(),
    tags=("curation", "text", "llm"),
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-500 vocabulary head
    (operators/text.py::zipf_slope): least-squares slope of ln(freq) on
    ln(rank) + r². Corpus-side work is the token-count aggregate; the
    head is a TakeOrdered top-k, and the regression runs on ≤500 rows."""
    docs = _t(spark, sf_dir, "documents")
    return X.zipf_slope(docs, "text")


_EPISODE_GAP_US = 86_400_000_000  # a day of silence ends an activity episode


def _typed_sessions(ev: DataFrame, etype: str) -> DataFrame:
    """Day-gap activity episodes of one event type per user:
    (user_id, session_id, start, end). Same lag+cumsum formulation as
    events_sessionize — one user_id shuffle serves both window passes.
    The day-scale gap gives multi-day INTERVALS (the 30-min sessions of
    this sparse corpus are near-points and barely intersect)."""
    e = ev.filter(F.col("event_type") == etype)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) > _EPISODE_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        marked.withColumn("session_id", F.sum("is_start").over(cum).cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
    )


_SESS_CTE = """
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM (
    SELECT user_id, ts, event_id,
           CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > {gap_us}
                  THEN 1 ELSE 0 END AS is_start
      FROM events WHERE event_type = '{etype}'
    )
  ) GROUP BY 1, 2
"""


@register(
    "session_overlap_join",
    oracle=f"""
WITH cs AS ({_SESS_CTE.format(etype="click", gap_us=_EPISODE_GAP_US)}),
ps AS ({_SESS_CTE.format(etype="purchase", gap_us=_EPISODE_GAP_US)})
SELECT cs.user_id, cs.session_id AS click_session, ps.session_id AS purchase_session,
       CAST(epoch_us(least(cs.e, ps.e)) - epoch_us(greatest(cs.s, ps.s)) AS BIGINT) AS overlap_us
FROM cs JOIN ps ON cs.user_id = ps.user_id AND cs.s <= ps.e AND ps.s <= cs.e
""",
    tags=("temporal", "events", "join"),
)
def q_session_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (operators/temporal.py::overlap_join):
    which click sessions intersect which purchase sessions per user —
    the browsing-while-buying audit. Spark lacks an overlap operator
    and the naive range join is a per-key nested loop; intervals
    explode into 1-hour cells, candidates equi-join on (user, cell),
    and each true pair emits exactly once at the first shared cell (no
    distinct pass). The oracle is a PLAIN inequality join, so parity
    validates the decomposition's semantics against an independent
    strategy."""
    ev = _t(spark, sf_dir, "events")
    clicks = _typed_sessions(ev, "click")
    purchases = _typed_sessions(ev, "purchase")
    out = T.overlap_join(clicks, purchases, key="user_id", bucket_sec=86_400)
    return out.select(
        "user_id",
        F.col("session_id").alias("click_session"),
        F.col("session_id_r").alias("purchase_session"),
        "overlap_us",
    )


_SPAN_W = 30  # window length (chars)
_SPAN_MOD = 3  # anchor sampling: token starts with ascii(first char) % 3 == 0


@register(
    "repeated_spans",
    oracle=f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= {_SPAN_W}),
st AS (SELECT doc_id, text,
              unnest([p FOR p IN generate_series(1, length(text) - {_SPAN_W} + 1)
                      IF substr(text, p, 1) != ' '
                         AND (p = 1 OR substr(text, p - 1, 1) = ' ')
                         AND ascii(substr(text, p, 1)) % {_SPAN_MOD} = 0]) AS pos
       FROM d)
SELECT substr(text, CAST(pos AS INT), {_SPAN_W}) AS span,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM st GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
""",
    tags=("dedup", "text", "llm"),
)
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection (the memorization-risk audit
    behind exact substring deduplication, Lee et al. 2022): fixed-width
    W=30-char windows that occur verbatim in >=2 distinct documents.

    Anchoring is CONTENT-DEFINED (winnowing-style), not position-grid:
    a window starts at every token start whose first character hashes
    into the sample (``ascii % 3 == 0``). A fixed position stride would
    silently miss every repeat whose two copies sit at different
    offsets modulo the stride (the planted test in
    test_skyline_spans.py caught exactly that); content anchors depend
    only on the repeated text itself, so identical regions anchor
    identically wherever they appear. Guarantee: any cross-document
    verbatim region containing an anchored token start with >= W chars
    left is caught (anchor density ~1/3 of tokens).

    Plan: token start offsets come from one ``aggregate`` fold over
    ``split`` (O(#tokens) per doc, JVM-side, no per-character explode);
    anchors explode to ~tokens/3 rows and the count-distinct groups on
    the span itself. At production scale the group key would be a
    64-bit rolling hash (8-byte shuffle rows, collisions resolved by a
    second exact pass); the string key is kept so an independent SQL
    engine reproduces the result verbatim — the oracle derives the
    same anchor set from a per-character scan, an independent
    strategy."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    starts = F.aggregate(
        toks,
        F.struct(
            F.lit(1).alias("pos"), F.expr("CAST(array() AS array<int>)").alias("st")
        ),
        lambda acc, t: F.struct(
            (acc["pos"] + F.length(t) + 1).alias("pos"),
            F.concat(acc["st"], F.array(acc["pos"])).alias("st"),
        ),
        lambda acc: acc["st"],
    )
    win = (
        docs.filter(F.length("text") >= _SPAN_W)
        .select("doc_id", "text", F.explode(starts).alias("pos"))
        .filter(
            (F.col("pos") + _SPAN_W - 1 <= F.length("text"))
            & (F.substring(F.col("text"), F.col("pos"), 1) != " ")
            & (F.ascii(F.substring(F.col("text"), F.col("pos"), 1)) % _SPAN_MOD == 0)
        )
        .select("doc_id", F.substring(F.col("text"), F.col("pos"), _SPAN_W).alias("span"))
    )
    return (
        win.groupBy("span")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "mixture_allocation",
    oracle="""
WITH caps AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS cap,
         CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS w
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(cap) AS BIGINT) AS t, CAST(sum(w) AS BIGINT) AS sw FROM caps),
r1 AS (
  SELECT c.source, c.cap, c.w,
         ((6 * t.t) // 10) AS b,
         least(c.cap, (((6 * t.t) // 10) * c.w) // t.sw) AS alloc1
  FROM caps c, tot t
),
agg2 AS (
  SELECT max(b) - CAST(sum(alloc1) AS BIGINT) AS l,
         CAST(sum(cap - alloc1) AS BIGINT) AS r
  FROM r1
)
SELECT r1.source, r1.cap,
       CAST(r1.alloc1 + CASE WHEN agg2.r > 0
             THEN least(r1.cap - r1.alloc1, (agg2.l * (r1.cap - r1.alloc1)) // agg2.r)
             ELSE 0 END AS BIGINT) AS alloc
FROM r1, agg2
""",
    tags=("sampling", "llm", "governance"),
)
def q_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-constrained mixture planning: given per-source token
    availability (cap) and NON-uniform target weights, allocate a 60%
    token budget in two deterministic water-filling rounds — round 1
    gives each source min(cap, weighted share), round 2 redistributes
    the leftover from capped sources to the others proportionally to
    remaining capacity. The planner every mixture-weighted pretraining
    run needs when a desired source is smaller than its target share
    (the reason naive "sample p_i from source i" silently under-fills
    the budget). All arithmetic is BIGINT floor division — exact,
    order-free, oracle-replayable. Plan: corpus collapses to one
    20-row per-source aggregate; both water-filling rounds are 1-row
    broadcast joins over that frame — nothing at corpus cardinality
    is touched after the first partial agg."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    caps = (
        docs.groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("cap"))
        .withColumn(
            "w", F.row_number().over(Window.orderBy("source")).cast("long")
        )
    )
    tot = caps.agg(
        F.sum("cap").cast("long").alias("t"), F.sum("w").cast("long").alias("sw")
    )
    r1 = caps.join(F.broadcast(tot)).select(
        "source",
        "cap",
        F.expr("(6 * t) DIV 10").alias("b"),
        F.expr("least(cap, (((6 * t) DIV 10) * w) DIV sw)").alias("alloc1"),
    )
    agg2 = r1.agg(
        (F.max("b") - F.sum("alloc1")).cast("long").alias("l"),
        F.sum(F.col("cap") - F.col("alloc1")).cast("long").alias("r"),
    )
    return r1.join(F.broadcast(agg2)).select(
        "source",
        "cap",
        F.expr(
            "CAST(alloc1 + IF(r > 0, least(cap - alloc1, (l * (cap - alloc1)) DIV r), 0) AS BIGINT)"
        ).alias("alloc"),
    )


from is3107datapipelineproject_spark.workload.llm_queries import (  # noqa: E402
    SQL_TOKS as _SQL_TOKS_CAL,
)


@register(
    "classifier_calibration",
    oracle=f"""
WITH qc AS ({_qc_oracle(0.78)}),
t2 AS (SELECT doc_id, text, {{toks}} AS toks FROM documents),
m2 AS (SELECT doc_id,
              CAST(len(toks) AS DOUBLE) AS n,
              CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
              CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
                / length(text) AS pr
       FROM t2),
h AS (SELECT doc_id,
             round(0.5 * least(1.0, n / 100.0) + 0.3 * ttr + 0.2 * (1.0 - pr), 4) AS quality
      FROM m2),
j AS (
  SELECT CAST(round(qc.quality_prob * 10000) AS BIGINT) AS p4,
         CASE WHEN h.quality >= 0.55 THEN 1 ELSE 0 END AS lbl
  FROM qc JOIN h USING (doc_id)
),
b AS (SELECT CAST(least(p4 // 1000, 9) AS INT) AS decile, p4, lbl FROM j)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(p4) AS DOUBLE) / (count(*) * 10000.0), 4) AS mean_prob,
       round(CAST(sum(lbl) AS DOUBLE) / count(*), 4) AS frac_quality
FROM b GROUP BY 1
""".replace("{toks}", _SQL_TOKS_CAL),
    tags=("curation", "diagnostics", "llm"),
)
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the model-based quality stage: decile-
    bucket the logistic quality_prob and compare each bucket's mean
    predicted probability against the fraction the INDEPENDENT
    heuristic quality_score (>= 0.55) calls quality — the calibration
    audit run before trusting a learned filter to allocate a data
    budget (a well-calibrated bucket has mean_prob ≈ frac_quality).
    Integer-exact everywhere: the 4-dp prob becomes BIGINT
    ten-thousandths, the decile is integer division of that (no
    float-boundary drift at 0.7000), and both per-bucket means are one
    rounded division of exact sums. One corpus scan computes both
    feature sets; the aggregate is 10 rows."""
    from is3107datapipelineproject_spark.operators import text as X

    docs = _t(spark, sf_dir, "documents")
    qc = C.quality_classifier(docs, "text", "doc_id", threshold=_QC_THRESHOLD)
    h = docs.select(
        "doc_id", F.round(X.quality_score("text"), 4).alias("quality")
    )
    j = qc.join(h, "doc_id").select(
        F.round(F.col("quality_prob") * 10000).cast("long").alias("p4"),
        F.when(F.col("quality") >= 0.55, 1).otherwise(0).alias("lbl"),
    )
    b = j.select(
        F.least(F.floor(F.col("p4") / 1000), F.lit(9)).cast("int").alias("decile"),
        "p4",
        "lbl",
    )
    return b.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum("p4").cast("double") / (F.count(F.lit(1)) * 10000.0), 4
        ).alias("mean_prob"),
        F.round(F.sum("lbl").cast("double") / F.count(F.lit(1)), 4).alias(
            "frac_quality"
        ),
    )


# Shared scored-and-labeled frame for the classifier-evaluation family
# (classifier_calibration / quality_auc / precision_recall_curve): the
# logistic quality_prob as BIGINT ten-thousandths next to the
# INDEPENDENT heuristic-quality binary label.
def _scored_label_oracle() -> str:
    return f"""
qc AS ({_qc_oracle(_QC_THRESHOLD)}),
t9 AS (SELECT doc_id, text, {_SQL_TOKS_CAL} AS toks FROM documents),
m9 AS (SELECT doc_id,
              CAST(len(toks) AS DOUBLE) AS n,
              CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
              CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
                / length(text) AS pr
       FROM t9),
h9 AS (SELECT doc_id,
              round(0.5 * least(1.0, n / 100.0) + 0.3 * ttr + 0.2 * (1.0 - pr), 4) AS quality
       FROM m9),
j9 AS (
  SELECT CAST(round(qc.quality_prob * 10000) AS BIGINT) AS p4,
         CASE WHEN h9.quality >= 0.55 THEN 1 ELSE 0 END AS lbl
  FROM qc JOIN h9 USING (doc_id)
)"""


def _scored_label_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    qc = C.quality_classifier(docs, "text", "doc_id", threshold=_QC_THRESHOLD)
    h = docs.select("doc_id", F.round(X.quality_score("text"), 4).alias("quality"))
    return qc.join(h, "doc_id").select(
        F.round(F.col("quality_prob") * 10000).cast("long").alias("p4"),
        F.when(F.col("quality") >= 0.55, 1).otherwise(0).cast("long").alias("lbl"),
    )


@register(
    "quality_auc",
    oracle=f"""
WITH {_scored_label_oracle()},
g AS (SELECT p4, count(*) AS cnt, sum(lbl) AS pos FROM j9 GROUP BY 1),
c AS (SELECT p4, cnt, pos,
             sum(cnt) OVER (ORDER BY p4 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_cum
      FROM g),
s AS (SELECT
        sum(CAST(pos AS HUGEINT) * (2 * (cnt_cum - cnt) + cnt + 1)) AS s2,
        sum(CAST(pos AS HUGEINT)) AS p,
        sum(CAST(cnt - pos AS HUGEINT)) AS nneg,
        sum(CAST(cnt AS HUGEINT)) AS ntot,
        sum(CAST(pos AS HUGEINT) * (p4 - 10000) * (p4 - 10000)
            + CAST(cnt - pos AS HUGEINT) * p4 * p4) AS bsum
      FROM c)
SELECT CAST(p AS BIGINT) AS n_pos,
       CAST(nneg AS BIGINT) AS n_neg,
       round(CAST(s2 - p * (p + 1) AS DOUBLE)
             / (2.0 * CAST(p AS DOUBLE) * CAST(nneg AS DOUBLE)), 4) AS auc,
       round(CAST(bsum AS DOUBLE) / (CAST(ntot AS DOUBLE) * 100000000.0), 4) AS brier
FROM s
""",
    tags=("curation", "diagnostics", "stats", "llm"),
)
def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC (Mann-Whitney rank-sum with the tie-average
    correction) plus the Brier score for the learned quality filter
    against the independent heuristic label — the threshold-free
    discrimination + calibration summary pair that decides whether a
    learned filter is trusted with a data budget at all. Scale shape:
    the doc-level frame collapses to per-score-value (cnt, pos) counts
    — AT MOST 10001 groups forever, because the score is a 4-dp
    probability — and the running total over that bounded frame goes
    through the two-level distributed_cumsum (no single-task sort even
    if scores were unbounded). Integer-exact: rank sums are doubled to
    stay integral under tie-averaging, accumulated in DECIMAL(38,0)
    (HUGEINT on the oracle side), two rounded float divisions at the
    very end."""
    from is3107datapipelineproject_spark.operators.ranking import distributed_cumsum

    j = _scored_label_frame(spark, sf_dir)
    # The (cnt, pos)-per-score table is <= 10001 rows forever; checkpoint
    # it so the multi-consumer DAG (quantile probe + local sums + bucket
    # totals + offset join) pays the tokenize -> score -> join pipeline
    # exactly once.
    g = (
        j.groupBy("p4")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("lbl").alias("pos"))
        .localCheckpoint(eager=False)
    )
    c = distributed_cumsum(g, "p4", ["cnt"])
    dec = lambda col: col.cast("decimal(38,0)")
    s = c.agg(
        F.sum(
            dec(F.col("pos"))
            * (2 * (F.col("cnt_cum") - F.col("cnt")) + F.col("cnt") + 1)
        ).alias("s2"),
        F.sum(dec(F.col("pos"))).alias("p"),
        F.sum(dec(F.col("cnt") - F.col("pos"))).alias("nneg"),
        F.sum(dec(F.col("cnt"))).alias("ntot"),
        F.sum(
            dec(F.col("pos")) * (F.col("p4") - 10000) * (F.col("p4") - 10000)
            + dec(F.col("cnt") - F.col("pos")) * F.col("p4") * F.col("p4")
        ).alias("bsum"),
    )
    return s.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("nneg").cast("long").alias("n_neg"),
        F.round(
            (F.col("s2") - F.col("p") * (F.col("p") + 1)).cast("double")
            / (2.0 * F.col("p").cast("double") * F.col("nneg").cast("double")),
            4,
        ).alias("auc"),
        F.round(
            F.col("bsum").cast("double") / (F.col("ntot").cast("double") * 1e8), 4
        ).alias("brier"),
    )


@register(
    "precision_recall_curve",
    oracle=f"""
WITH {_scored_label_oracle()},
b AS (SELECT CAST(least(p4 // 1000, 9) AS INT) AS decile, lbl FROM j9),
g AS (SELECT decile, count(*) AS cnt, sum(lbl) AS pos FROM b GROUP BY 1),
c AS (SELECT decile,
             sum(pos) OVER (ORDER BY decile DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(cnt) OVER (ORDER BY decile DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS predpos
      FROM g),
tot AS (SELECT sum(pos) AS p_all, sum(cnt) AS n_all FROM g)
SELECT CAST(c.decile AS INT) AS decile,
       c.decile / 10.0 AS threshold,
       CAST(tp AS BIGINT) AS tp,
       CAST(predpos - tp AS BIGINT) AS fp,
       CAST(p_all - tp AS BIGINT) AS fn,
       round(CAST(tp AS DOUBLE) / CAST(predpos AS DOUBLE), 4) AS prec,
       round(CAST(tp AS DOUBLE) / CAST(p_all AS DOUBLE), 4) AS recall,
       round(2.0 * tp / CAST(predpos + p_all AS DOUBLE), 4) AS f1,
       round(CAST(tp AS DOUBLE) * n_all / (CAST(predpos AS DOUBLE) * p_all), 4) AS lift
FROM c, tot
""",
    tags=("curation", "diagnostics", "stats", "llm"),
)
def q_precision_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 / lift at every decile threshold of the
    learned quality score — the operating-point table a curation run
    reads to pick the score cutoff that hits a recall target (with the
    base-rate lift column showing how much better than random each
    cutoff selects). The corpus collapses to AT MOST 10 decile rows in
    one map-side-combined groupBy; the descending cumulative TP /
    predicted-positive sums run over that bounded frame (allowlisted:
    the decile key is least(p4//1000, 9), so the windowed frame can
    never exceed 10 rows at any corpus size). F1 and lift are computed
    from exact integer counts in one float expression and rounded once
    — F1 = 2·TP/(predpos + P) avoids chaining the already-rounded
    precision/recall."""
    j = _scored_label_frame(spark, sf_dir)
    b = j.select(
        F.least(F.floor(F.col("p4") / 1000), F.lit(9)).cast("int").alias("decile"),
        "lbl",
    )
    g = b.groupBy("decile").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("lbl").alias("pos")
    )
    w = (
        Window.orderBy(F.col("decile").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "decile",
        F.sum("pos").over(w).alias("tp"),
        F.sum("cnt").over(w).alias("predpos"),
    )
    tot = g.agg(F.sum("pos").alias("p_all"), F.sum("cnt").alias("n_all"))
    out = c.crossJoin(F.broadcast(tot))
    return out.select(
        F.col("decile").cast("int").alias("decile"),
        (F.col("decile") / F.lit(10.0)).alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        (F.col("predpos") - F.col("tp")).cast("long").alias("fp"),
        (F.col("p_all") - F.col("tp")).cast("long").alias("fn"),
        F.round(F.col("tp").cast("double") / F.col("predpos").cast("double"), 4).alias("prec"),
        F.round(F.col("tp").cast("double") / F.col("p_all").cast("double"), 4).alias("recall"),
        F.round(
            F.lit(2.0) * F.col("tp") / (F.col("predpos") + F.col("p_all")).cast("double"), 4
        ).alias("f1"),
        F.round(
            F.col("tp").cast("double") * F.col("n_all")
            / (F.col("predpos").cast("double") * F.col("p_all")),
            4,
        ).alias("lift"),
    )


def _kn_oracle() -> str:
    from is3107datapipelineproject_spark.workload.llm_queries import SQL_TOKS

    return f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
),
cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
cp AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cpx, CAST(count(*) AS BIGINT) AS nf
       FROM cb GROUP BY 1),
pr AS (SELECT w2, CAST(count(*) AS BIGINT) AS npred FROM cb GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM cb),
p AS (SELECT w1, w2, c,
             round((CAST(c AS DOUBLE) - 0.75) / cpx
                   + 0.75 * nf / cpx * (npred / CAST(bt AS DOUBLE)), 4) AS p_kn
      FROM cb JOIN cp USING (w1) JOIN pr USING (w2) CROSS JOIN tot)
SELECT w1, w2, c AS n_pair, p_kn
FROM p ORDER BY p_kn DESC, w1, w2 LIMIT 200
"""


@register(
    "kneser_ney_bigram",
    oracle=_kn_oracle(),
    tags=("curation", "text", "llm"),
)
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 bigrams by Kneser-Ney smoothed conditional probability
    (absolute discount d = 0.75, continuation-count backoff) — the LM
    estimate that fixes MLE's two failure modes at once: probability
    mass is reserved for unseen continuations, and the backoff weight
    of a word is how many DISTINCT contexts it follows (continuation
    count), not its raw frequency — the statistic behind "san
    francisco"-style burst words scoring low out of context. Everything
    derives from the bigram count table: prefix totals + distinct-
    follower counts from one groupBy(w1), distinct-predecessor counts
    from one groupBy(w2), the distinct-bigram total as a broadcast
    1-row scalar — all Zipf-bounded far below corpus size but joined on
    their keys, never assumed broadcastable. p_kn is one pinned-order
    double expression over exact integers, rounded before the ranked
    cut (TakeOrderedAndProject: per-partition top-200 + merge, no
    global sort)."""
    from is3107datapipelineproject_spark.operators.text import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    arr = ws_tokens("text")
    pairs = F.filter(
        F.zip_with(
            arr,
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    bg = docs.select(F.explode(pairs).alias("__p")).select(
        F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2")
    )
    cb = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    cp = cb.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cpx"), F.count(F.lit(1)).alias("nf")
    )
    pr = cb.groupBy("w2").agg(F.count(F.lit(1)).alias("npred"))
    tot = cb.agg(F.count(F.lit(1)).alias("bt"))
    p_kn = F.round(
        (F.col("c").cast("double") - 0.75) / F.col("cpx")
        + F.lit(0.75) * F.col("nf") / F.col("cpx")
        * (F.col("npred") / F.col("bt").cast("double")),
        4,
    )
    p = (
        cb.join(cp, "w1")
        .join(pr, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", F.col("c").alias("n_pair"), p_kn.alias("p_kn"))
    )
    return p.orderBy(F.col("p_kn").desc(), "w1", "w2").limit(200)


@register(
    "subgroup_auc_audit",
    oracle=f"""
WITH {_scored_label_oracle()},
t10 AS (SELECT doc_id, source FROM documents),
j10 AS (
  SELECT t10.source,
         CAST(round(qc.quality_prob * 10000) AS BIGINT) AS p4,
         CASE WHEN h9.quality >= 0.55 THEN 1 ELSE 0 END AS lbl
  FROM qc JOIN h9 USING (doc_id) JOIN t10 USING (doc_id)
),
g AS (SELECT source, p4, count(*) AS cnt, sum(lbl) AS pos FROM j10 GROUP BY 1, 2),
c AS (SELECT source, p4, cnt, pos,
             sum(cnt) OVER (PARTITION BY source ORDER BY p4
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_cum
      FROM g),
s AS (SELECT source,
             sum(CAST(pos AS HUGEINT) * (2 * (cnt_cum - cnt) + cnt + 1)) AS s2,
             sum(CAST(pos AS HUGEINT)) AS p,
             sum(CAST(cnt - pos AS HUGEINT)) AS nneg
      FROM c GROUP BY 1)
SELECT source,
       CAST(p AS BIGINT) AS n_pos,
       CAST(nneg AS BIGINT) AS n_neg,
       CASE WHEN p = 0 OR nneg = 0 THEN NULL
            ELSE round(CAST(s2 - p * (p + 1) AS DOUBLE)
                       / (2.0 * CAST(p AS DOUBLE) * CAST(nneg AS DOUBLE)), 4) END AS auc
FROM s
""",
    tags=("curation", "diagnostics", "stats", "llm"),
)
def q_subgroup_auc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source slice audit of the learned quality filter: the exact
    tie-corrected ROC AUC computed WITHIN each source — the fairness /
    slice-regression check that catches a filter which discriminates
    well globally (quality_auc) while being no better than random on
    one source's documents (whose data it would then effectively sample
    at random). Same Mann-Whitney machinery as quality_auc, grouped:
    per-(source, score) counts are bounded at sources × 10001 rows
    forever, the running total is a window PARTITIONED by source (each
    partition's frame is score-bounded, not corpus-bounded), and a
    single-class slice returns NULL AUC rather than dividing by zero.
    Doubled rank sums stay integral in DECIMAL(38,0)/HUGEINT."""
    docs = _t(spark, sf_dir, "documents")
    qc = C.quality_classifier(docs, "text", "doc_id", threshold=_QC_THRESHOLD)
    h = docs.select(
        "doc_id", "source", F.round(X.quality_score("text"), 4).alias("quality")
    )
    j = qc.join(h, "doc_id").select(
        "source",
        F.round(F.col("quality_prob") * 10000).cast("long").alias("p4"),
        F.when(F.col("quality") >= 0.55, 1).otherwise(0).cast("long").alias("lbl"),
    )
    g = j.groupBy("source", "p4").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("lbl").alias("pos")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("p4")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.withColumn("cnt_cum", F.sum("cnt").over(w))
    dec = lambda col: col.cast("decimal(38,0)")
    s = c.groupBy("source").agg(
        F.sum(
            dec(F.col("pos"))
            * (2 * (F.col("cnt_cum") - F.col("cnt")) + F.col("cnt") + 1)
        ).alias("s2"),
        F.sum(dec(F.col("pos"))).alias("p"),
        F.sum(dec(F.col("cnt") - F.col("pos"))).alias("nneg"),
    )
    auc = F.when(
        (F.col("p") == 0) | (F.col("nneg") == 0), F.lit(None).cast("double")
    ).otherwise(
        F.round(
            (F.col("s2") - F.col("p") * (F.col("p") + 1)).cast("double")
            / (2.0 * F.col("p").cast("double") * F.col("nneg").cast("double")),
            4,
        )
    )
    return s.select(
        "source",
        F.col("p").cast("long").alias("n_pos"),
        F.col("nneg").cast("long").alias("n_neg"),
        auc.alias("auc"),
    )
