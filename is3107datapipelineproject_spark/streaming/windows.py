"""Structured Streaming windows + CDC merge (SURVEY §2.8).

The reference is a weekly batch DAG whose incremental contract is
hand-rolled CDC (`/root/reference/main_dag.py:242-262`); the engine
generalizes it to event-time streaming over the ``events`` table:

- ``tumbling_counts`` / ``sliding_counts``: watermarked event-time
  windows. The SAME function transforms a batch frame and a streaming
  frame (Structured Streaming's unified Dataset semantics) — the batch
  twin is what the DuckDB oracle checks (`events_tumbling_window`), and
  tests assert stream(availableNow) == batch on identical input.
- ``foreach_batch_merge``: the reference's three-cache diff applied per
  micro-batch — new/deleted/next_unique maintained incrementally.

Scale notes: watermark bounds state (late rows beyond the horizon are
dropped); state lives in the state store keyed by (window, type), so
cardinality — not input volume — sizes memory. For custom per-key state
beyond windowing, applyInPandasWithState is the escape hatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Every state-dir helper is looked up on the module at call time (L.x), so
# a test can monkeypatch plans.layout's swap and rewrite functions.
from is3107datapipelineproject_spark.plans import layout as L

# Fallback schema for streaming reads of the events table when the
# directory can't be batch-probed: streaming sources cannot infer
# schemas. The driver's testdata generations have shipped ts as INT64
# TIMESTAMP(NANOS) and as TIMESTAMP(MICROS, NTZ); events_stream probes
# the footer via a batch read so the declared schema always matches.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Any on-disk ts layout → (ts UTC timestamp, ts_ns long), matching
    the batch loader exactly (it IS the batch loader's normalizer, so
    stream and batch twins agree by construction)."""
    from is3107datapipelineproject_spark.sources.tables import normalize_events

    return normalize_events(df)


def events_stream(spark, events_dir: str) -> DataFrame:
    """File-source stream over a DIRECTORY of events parquet files — the
    staging-dir scan of a continuously-fed pipeline (file streams track
    directories; single files are a batch concern). maxFilesPerTrigger
    bounds micro-batch size at scale.

    Streaming sources can't infer schemas, and the events timestamp
    layout differs across testdata generations — probe it with a batch
    footer read (cheap: metadata only) so the declared schema matches
    the files; fall back to EVENTS_RAW_SCHEMA on an empty directory.
    """
    from pyspark.errors import AnalysisException

    try:
        schema = spark.read.parquet(events_dir).schema
    except AnalysisException:
        # empty/absent dir at stream start: schema inference has nothing
        # to read. The fallback pins the CURRENT testdata generation's
        # NTZ layout; a later generation feeding a different physical
        # timestamp type must land at least one file before stream start
        # (or this declared schema will mismatch its files). Real read
        # errors (permissions, corrupt footers) are NOT swallowed.
        schema = EVENTS_RAW_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    return normalize_event_time(raw)


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window: (window_start, event_type, cnt,
    total_value). Works identically on batch and streaming frames; on a
    stream the watermark bounds state and admits late data up to the
    horizon. DECIMAL-cast sum keeps the aggregate deterministic."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "total_value")
    )


def sliding_counts(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Sliding event-time window — each event lands in window/slide
    overlapping buckets."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (``F.session_window``): per-user sessions
    that merge while consecutive events arrive within ``gap``; a gap of
    exactly the threshold starts a NEW session (window end is
    exclusive). Returns (user_id, session_start, session_end, n_events)
    where session_end = last event + gap. Works on batch and streaming
    frames — the built-in twin of the lag+cumsum formulation in
    workload.window_queries.q_events_sessionize, cross-checked against
    it by oracle."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    per-user running total maintained across micro-batches — the escape
    hatch for stateful logic that windowing can't express (running
    aggregates, custom sessionization, anomaly baselines).

    State per user: (n_events, total_value). Each micro-batch updates the
    state from its Arrow batches and emits the new running totals
    (update semantics). State size = #distinct users, independent of
    input volume — the property that makes this viable at 100 TB/day.

    The kernel is a local closure (shipped by value; workers never
    import this package — same concern as multimodal.decode_stub).
    """
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd  # worker-side import

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def dedup_keys(events: DataFrame, keys: tuple[str, ...] = ("user_id", "event_type"), watermark: str = "2 hours") -> DataFrame:
    """Exactly-once key dedup, batch or stream. On a streaming frame
    this is ``dropDuplicatesWithinWatermark`` — the state store remembers
    keys only within the watermark horizon, so state is bounded by key
    cardinality per horizon rather than total history (the property that
    lets a 100 TB/day feed dedup forever). On a batch frame the same
    call degrades to a plain distinct over the projected keys.

    Output is the key projection only: first-arrival attribution of the
    non-key columns is timing-dependent on a stream, and the key set is
    the part both execution modes (and the SQL oracle) agree on
    exactly."""
    proj = events.select(*keys)
    if events.isStreaming:
        return (
            events.withWatermark("ts", watermark)
            .select("ts", *keys)
            .dropDuplicatesWithinWatermark(list(keys))
            .select(*keys)
        )
    return proj.dropDuplicates(list(keys))


def click_purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to every
    click by the same user within ``horizon`` before it. On streaming
    frames both sides carry watermarks and the time-range condition
    bounds the join state (clicks are dropped from state once no
    in-horizon purchase can still arrive — Spark derives the state
    eviction from watermark + range); on batch frames the same
    expression is a plain interval join. Returns (click_id,
    purchase_id, user_id) pairs — deterministic in both modes."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))


def foreach_batch_merge(known_path: str, key: str):
    """ST2 as a streaming sink: returns a foreachBatch function applying
    the reference's three-cache diff (incremental_merge) to each
    micro-batch against the persisted unique table, and swapping the
    merged table in through plans/layout.py::swap_in. A missing table is
    a cold start (S3 semantics): the batch becomes the table.

    Replay-safe: the merge is idempotent (old rows win, so re-merging
    the same batch into its own output is a no-op), and the table is
    never overwritten in place — a crash leaves the complete old or new
    table at the path or at its ``.compact_old`` aside, which the next
    batch recovers before reading."""
    from is3107datapipelineproject_spark.operators.incremental import incremental_merge

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        L.recover_stale_sibling(spark, known_path)
        p, fs = L._hadoop_fs(spark, known_path)
        merged = batch_df
        if fs.exists(p):
            merged = incremental_merge(spark.read.parquet(known_path), batch_df, key).next_unique
        L.swap_in(spark, known_path, merged.write.parquet)

    return apply


def funnel_state(events: DataFrame, window_us: int = 30 * 60 * 1_000_000) -> DataFrame:
    """Streaming twin of the batch ``events_funnel`` query: per-user
    view → click → purchase progression tracked in applyInPandasWithState
    (state = three event-time stamps + an update ordinal; a few dozen
    bytes per user, independent of event volume).

    Events are processed in event-time order WITHIN each micro-batch
    (sorted in the kernel); cross-batch disorder is the caller's
    watermark problem, same contract as every stateful op here. Stamps
    are MICROsecond longs (``ts_ns DIV 1000``) so stage-window
    comparisons land on exactly the timestamps the batch query compares
    after the nanos→micros truncation in sources.tables — stream and
    batch pick the same funnel events bit-for-bit.

    Emits the user's current funnel row each micro-batch (update
    semantics); ``n_updates`` lets a consumer (and the parity test) pick
    the final state without relying on sink row order.
    """
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("view_us", T.LongType()),
            T.StructField("click_us", T.LongType()),
            T.StructField("purchase_us", T.LongType()),
            T.StructField("funnel_depth", T.IntegerType()),
            T.StructField("n_updates", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("view_us", T.LongType()),
            T.StructField("click_us", T.LongType()),
            T.StructField("purchase_us", T.LongType()),
            T.StructField("n_updates", T.LongType()),
        ]
    )
    w = int(window_us)

    def update(key, pdfs, state):
        import pandas as pd  # worker-side import

        view, click, purch, n_upd = (
            state.get if state.exists else (None, None, None, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values("ts_us", kind="stable")
            for et, t in zip(batch["event_type"], batch["ts_us"]):
                t = int(t)
                if et == "view":
                    if view is None:
                        view = t
                elif et == "click":
                    if view is not None and click is None and view < t <= view + w:
                        click = t
                elif et == "purchase":
                    if click is not None and purch is None and click < t <= click + w:
                        purch = t
        n_upd = int(n_upd or 0) + 1
        state.update((view, click, purch, n_upd))
        if view is not None:
            depth = 1 + (click is not None) + (purch is not None)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "view_us": [view],
                    "click_us": [click],
                    "purchase_us": [purch],
                    "funnel_depth": [depth],
                    "n_updates": [n_upd],
                }
            )

    src = events.withColumn("ts_us", F.expr("ts_ns DIV 1000"))
    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def neardup_ingest_sink(
    sig_dir: str,
    pairs_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
):
    """Streaming corpus ingest with every-batch near-dup detection —
    the 100 TB ingest loop made concrete: returns a foreachBatch
    function that, per micro-batch of arriving documents,

    1. builds the batch's LSH band/signature frame ONCE
       (localCheckpoint: it feeds both the join and the table append);
    2. joins it (broadcast, new side) against the PERSISTED corpus
       signature table at ``sig_dir`` — the corpus text is never
       re-read or re-hashed, the property that keeps per-ingest cost
       proportional to the batch;
    3. appends surviving ``(new_id, old_id, jaccard)`` pairs to
       ``pairs_dir``;
    4. appends the batch's own bands to the signature table, so the
       NEXT batch sees this one as corpus.

    Within-batch pairs are intentionally out of scope (same contract as
    operators.dedup.incremental_neardup: new×old only; run
    minhash_neardup_pairs on the batch if intra-batch dups matter).
    Batch order within a trigger is the micro-batch order, so the
    old/new attribution is deterministic per checkpoint lineage.
    Retry-safe, cold-start and crash contract: plans/layout.py::read_earlier.
    """
    from is3107datapipelineproject_spark.operators.dedup import (
        band_signature_frame,
        incremental_neardup_from_bands,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # lazy is deterministic here: batch_df is pinned to the epoch's offsets
        nb = band_signature_frame(batch_df, text_col, id_col, k).localCheckpoint(eager=False)
        state = L.read_earlier(spark, batch_id, [sig_dir], owned=[pairs_dir])
        if state is not None:
            pairs = incremental_neardup_from_bands(
                state[0].toDF("old_id", "old_hs", "band"),
                nb.toDF("new_id", "new_hs", "band"),
                threshold=threshold,
            )
            L.write_batch(pairs, pairs_dir, batch_id)
        L.write_batch(nb, sig_dir, batch_id)

    return apply


def hist_ingest_sink(sketch_dir: str, value_col: str, width: float = 100.0):
    """Streaming maintenance of the mergeable quantile sketch
    (operators/sketches.py): per micro-batch, build the batch's
    fixed-boundary histogram and persist it as a partial — the classic
    store-partials / merge-on-read sketch pattern. Per-ingest cost is
    the batch scan plus a ≤(range/width)-row write. Read the current
    sketch with :func:`hist_read`; compact with :func:`hist_compact`.
    Fixed boundaries make the merge associative, so the streamed sketch
    equals the batch-built global histogram bit-for-bit at every
    trigger (asserted in tests). A replayed batch rewrites its own
    partial instead of double-counting it (plans/layout.py::read_earlier
    states the sinks' retry-safe and crash contract)."""
    from is3107datapipelineproject_spark.operators.sketches import hist_build

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        L.write_batch(hist_build(batch_df, value_col, width), sketch_dir, batch_id)

    return apply


def hist_read(spark, sketch_dir: str) -> DataFrame:
    """Merge the stored histogram partials back into one sketch
    (union + re-sum over ≤ #partials × range/width rows). Recovers a
    mid-swap-crashed hist_compact first — in READER mode (same contract
    as cluster_labels_read): never reclaims a superseded aside, and
    re-checks the primary once before restoring, so a read racing a
    live compaction swap cannot yank the aside mid-swap and abort it."""
    L.recover_stale_sibling(spark, sketch_dir, reader=True)
    parts = spark.read.parquet(sketch_dir)
    return parts.groupBy("bin").agg(F.sum("bin_cnt").cast("long").alias("bin_cnt"))


def hist_compact(spark, sketch_dir: str) -> int:
    """Offline compaction of the partial log: re-sum the partials into
    ONE row per bin under a single ``batch=<max_committed>`` partition
    (plans/layout.py::compact_stream_dir — temp-sibling swap, so the
    sketch is never held only in process memory; the max id keeps
    replayed-batch semantics correct), so merge-on-read cost stops
    growing with trigger count. The merged sketch is identical before
    and after (fixed boundaries make the re-sum associative — asserted
    in tests); run against a quiesced stream. Returns the compacted
    row count."""

    def _resum(df: DataFrame) -> DataFrame:
        return df.groupBy("bin").agg(F.sum("bin_cnt").cast("long").alias("bin_cnt"))

    L.compact_stream_dir(spark, sketch_dir, pre_merge=_resum)
    return spark.read.parquet(sketch_dir).count()


def dq_monitor_sink(report_dir: str, checks_factory):
    """Streaming data-quality monitor: a foreachBatch sink that runs the
    quality.row_checks battery on EVERY micro-batch and appends
    ``(batch_id, check, total, violations)`` to an append-only report
    log — the ingest-gate telemetry a 100-TB stream publishes instead
    of re-scanning the corpus. ``checks_factory()`` returns the
    name→violation-predicate dict (a factory, not a dict, so the sink
    closure ships no Column objects to the workers).

    Merge-on-read contract (same as hist_ingest_sink): per-check totals
    over the full stream = SUM of the stored partials, asserted equal
    to the batch battery over the same data in tests.

    Each batch's report lands in a ``batch_id=<id>`` partition (the id
    comes back as the partition column on read) under the sinks'
    retry-safe contract (plans/layout.py::read_earlier), so a replay
    rewrites its own rows instead of double-counting the batch."""
    from is3107datapipelineproject_spark.operators.quality import row_checks

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        out = row_checks(batch_df, checks_factory()).select("check", "total", "violations")
        L.write_batch(out.coalesce(1), report_dir, batch_id, key="batch_id")

    return apply


def dq_monitor_totals(spark, report_dir: str) -> DataFrame:
    """Merge-on-read rollup of the monitor log: per-check totals across
    all batches so far, plus the pass verdict over the whole stream."""
    log = spark.read.parquet(report_dir)
    return (
        log.groupBy("check")
        .agg(
            F.sum("total").cast("long").alias("total"),
            F.sum("violations").cast("long").alias("violations"),
        )
        .withColumn("passed", F.col("violations") == 0)
    )


def prefix_ingest_sink(
    postings_dir: str,
    sets_dir: str,
    pairs_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_prefix_posting: int = 10_000,
):
    """Streaming corpus ingest with every-batch EXACT near-dup
    detection — the exact-tier twin of :func:`neardup_ingest_sink`
    (which persists MinHash bands and trades recall): per micro-batch
    of arriving documents,

    1. builds the batch's prefix postings + shingle sets ONCE under the
       FIXED token order (``prefix_posting_frame`` with ``dfreq=None``
       — positions never drift as the corpus grows, so postings
       persisted at any past ingest stay jointly lossless against
       every future batch; a df-rarest order would silently invalidate
       the prefix bound once frequencies shift);
    2. joins them (broadcast, new side) against the PERSISTED corpus
       postings at ``postings_dir`` with the lossless size/positional
       prunes, verifies candidates exactly against the persisted sets
       at ``sets_dir`` — the corpus text is never re-read or re-hashed;
    3. appends surviving ``(new_id, old_id, jaccard)`` pairs to
       ``pairs_dir``;
    4. appends the batch's own postings + sets, so the NEXT batch sees
       this one as corpus.

    Same new×old-only contract as the sketch tier; within-batch pairs
    are out of scope (run prefix_jaccard_pairs on the batch if they
    matter). The fixed order costs longer posting lists than
    rarest-first — never recall: the streamed pairs equal the batch
    operator's bit-for-bit (asserted in tests), because both tiers'
    filters are lossless and verification is exact.

    Retry-safe, cold-start and crash contract:
    plans/layout.py::read_earlier (this sink advertises an EXACT
    contract, so at-least-once replay must not corrupt it).

    Loud-fail guards, identical to :func:`blocked_ingest_sink`'s (see
    its docstring for the cost argument): ``max_prefix_posting`` caps
    the BATCH's hottest prefix posting per trigger (capped batches keep
    every trigger's candidate join linear in the corpus), the
    one-row-per-doc guard rejects duplicate doc_ids within a batch, and
    a broadcast semi-join rejects a doc_id re-ingested across batches —
    either duplication would fan out the doc_id-keyed exact verify.
    """
    from is3107datapipelineproject_spark.operators.dedup import prefix_posting_frame

    return _exact_ingest_sink(
        "prefix_ingest_sink",
        lambda df: prefix_posting_frame(df, text_col, id_col, threshold=threshold, dfreq=None),
        ("tok",),
        postings_dir,
        sets_dir,
        pairs_dir,
        threshold,
        max_prefix_posting,
    )


def blocked_ingest_sink(
    postings_dir: str,
    sets_dir: str,
    pairs_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    threshold: float = 0.5,
    max_prefix_posting: int = 10_000,
):
    """Streaming corpus ingest with every-batch EXACT near-dup detection
    WITHIN metadata blocks — the blocked tier's streaming sink,
    completing its one-shot (``blocked_jaccard_pairs``) + incremental
    (``incremental_blocked_jaccard``) + stream symmetry with the other
    text tiers. Per micro-batch of arriving documents,

    1. builds the batch's blocked prefix postings + token sets ONCE
       under the FIXED token-value order (``blocked_posting_frame`` —
       positions never drift as blocks grow, so postings persisted at
       any past ingest stay jointly lossless against every future
       batch; a per-block df order would invalidate the bound once
       block frequencies shift);
    2. joins them (broadcast, new side) against the PERSISTED corpus
       postings on the composite ``(block, token)`` struct key with the
       lossless size/positional prunes, verifying candidates exactly
       against the persisted sets — corpus text never re-read;
    3. appends surviving ``(new_id, old_id, jaccard)`` pairs;
    4. appends the batch's postings + sets for the next trigger.

    New×old only; within-batch pairs are out of scope (run
    blocked_jaccard_pairs on the batch if they matter). Retry-safe,
    cold-start and crash contract: plans/layout.py::read_earlier.
    Right-to-be-forgotten: all three state dirs are per-ROW logs keyed
    by the ids they name — the generic :func:`purge_stream_state` tier
    covers them (``("doc_id",)`` for postings/sets, ``("new_id",
    "old_id")`` for pairs); no recomputation is needed because no row
    aggregates other docs' data.

    Loud-fail guards (the batch operators' no-silent-cliff contract,
    checked per trigger on the checkpointed BATCH frames so they cost
    two bounded aggregates, never a corpus pass):
    ``max_prefix_posting`` caps the batch's hottest (block, token)
    prefix posting — a duplicate-saturated batch would otherwise turn
    the candidate join quadratic in the batch; because every persisted
    batch passed the same cap, each trigger's join cost stays ≤ cap ×
    |corpus postings touched| (linear in corpus), which is why a
    per-trigger corpus-side re-aggregate is deliberately omitted. The
    one-row-per-doc guard rejects a multi-block doc WITHIN the batch,
    and a broadcast semi-join against the (column-pruned) corpus set
    ids rejects a doc_id re-ingested across batches — either would
    silently fan out the doc_id-keyed exact verify (a RETRIED batch is
    exempt by construction: the strictly-earlier read hides its own
    prior write)."""
    from is3107datapipelineproject_spark.operators.dedup import blocked_posting_frame

    return _exact_ingest_sink(
        "blocked_ingest_sink",
        lambda df: blocked_posting_frame(df, text_col, id_col, block_col, threshold=threshold),
        ("block", "tok"),
        postings_dir,
        sets_dir,
        pairs_dir,
        threshold,
        max_prefix_posting,
    )


def _exact_ingest_sink(
    name: str,
    frames,
    group_cols: tuple[str, ...],
    postings_dir: str,
    sets_dir: str,
    pairs_dir: str,
    threshold: float,
    max_prefix_posting: int,
):
    """The one body of :func:`prefix_ingest_sink` and
    :func:`blocked_ingest_sink`. ``frames(batch_df)`` builds the batch's
    ``(sets, postings)``; ``group_cols`` is the posting-list key —
    ``("tok",)``, or ``("block", "tok")`` joined as one struct key."""
    from is3107datapipelineproject_spark.operators.dedup import (
        _assert_one_row_per_doc,
        _assert_posting_cap,
        _prefix_candidates_verify,
    )

    tau = threshold - 1e-4

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        what = f"{name}: batch {batch_id}"
        sets_b, postings_b = frames(batch_df)
        # lazy is deterministic here: batch_df is pinned to the epoch's offsets
        sets_b = sets_b.localCheckpoint(eager=False)
        postings_b = postings_b.localCheckpoint(eager=False)
        _assert_one_row_per_doc(sets_b, what)
        _assert_posting_cap(postings_b, group_cols, max_prefix_posting, what)
        state = L.read_earlier(spark, batch_id, [postings_dir, sets_dir], owned=[pairs_dir])
        if state is not None:
            corpus_postings, corpus_sets = state
            seen = (
                corpus_sets.select("doc_id")
                .join(F.broadcast(sets_b.select("doc_id")), "doc_id", "left_semi")
                .limit(1)
                .collect()
            )
            if seen:
                raise ValueError(
                    f"{what} re-ingests doc_id {seen[0]['doc_id']!r} already in "
                    "the corpus — the doc_id-keyed exact verify would fan out; "
                    "dedup ids upstream or purge the old rows first"
                )
            pairs = _prefix_candidates_verify(
                corpus_postings, postings_b, corpus_sets, sets_b, tau, threshold, group_cols
            )
            L.write_batch(pairs, pairs_dir, batch_id)
        L.write_batch(postings_b, postings_dir, batch_id)
        L.write_batch(sets_b, sets_dir, batch_id)

    return apply


def edit_ingest_sink(
    titles_dir: str,
    keys_dir: str,
    pairs_dir: str,
    members_dir: str | None = None,
    id_col: str = "doc_id",
    title_col: str = "title",
    hot_key_cap: int = 4096,
):
    """Streaming corpus ingest with every-batch EDIT-DISTANCE (lev ≤ 1)
    near-dup detection — the character-level twin of
    :func:`neardup_ingest_sink` (MinHash) and
    :func:`prefix_ingest_sink` (PPJoin), closing the dedup-tier matrix:
    every tier now has exact one-shot, batch-incremental AND streaming
    entry points. Per micro-batch of arriving documents,

    1. collapses the batch to its DISTINCT titles ``(tid = min id, tt,
       grp)`` and builds their blocking-key postings ONCE
       (operators/dedup.py::_edit_index_keys — PassJoin chunk keys for
       long titles, symmetric-deletion keys for short); both are
       PERSISTED per batch (``titles_dir`` / ``keys_dir``), and the
       keys are a pure function of the title, so like the prefix
       tier's fixed token order they never drift — the corpus is never
       re-keyed, the per-batch cost is the BATCH's key build plus the
       candidate join, exactly the prefix sink's cost shape;
    2. joins the persisted corpus postings against the batch's
       (broadcast) probe keys, verifies candidates with the exact
       ``levenshtein`` builtin, then RE-COLLAPSES matches per (new doc,
       old title) across batches: ``old_id`` = the global min id,
       ``n_old`` = the summed group size — bit-identical to the batch
       operator (operators/dedup.py::incremental_edit_neardup) run
       with all earlier batches as corpus (asserted in tests), because
       batch-local representatives re-minimized across batches ARE the
       global representatives;
    3. appends surviving ``(new_id, old_id, lev, n_old)`` pairs
       (``lev = 0`` membership rows included) to ``pairs_dir``;
    4. appends the batch's titles + keys, so the NEXT batch sees this
       one as corpus.

    The hot-key guard is scoped to the keys THIS batch actually probes
    (a broadcast join + an aggregate over the matched rows — never a
    corpus-wide shuffle per trigger) and counts DISTINCT old titles per
    key, so a boilerplate title recurring in thousands of batches does
    not inflate the count past the cap (its cross-batch rows all carry
    one title). Those duplicate per-batch rows DO cost candidate-join
    width over time; reclaim them between triggers with
    :func:`edit_compact_state`, which collapses the titles to global
    representatives and rebuilds the postings — merge-on-read pair
    results are identical before and after (asserted in tests).

    Same new×old-only contract as the other tiers; within-batch pairs
    are out of scope (run edit_neardup_pairs on the batch if they
    matter). Retry-safe, cold-start and crash contract:
    plans/layout.py::read_earlier.

    ``members_dir`` (strongly recommended) additionally persists the
    per-batch MEMBER LEDGER ``(doc_id, tt)`` — one narrow row per
    arriving doc. The titles state alone stores only batch-local
    representatives, so a purged representative could not be re-elected
    from it; the ledger is what makes :func:`edit_purge_state` exact
    (decrement group sizes, re-elect the next-min surviving member,
    recompute each historical pair batch from the members that preceded
    it). Without it the sink behaves as before and the edit state's
    right-to-be-forgotten path is a documented seam."""
    from is3107datapipelineproject_spark.operators.dedup import (
        _edit_distinct_titles,
        _edit_index_keys,
        _edit_probe_keys,
    )

    owned = [pairs_dir] + ([members_dir] if members_dir is not None else [])

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        L.assert_no_purge_intent(spark, titles_dir, "edit_ingest_sink")
        # lazy is deterministic here: batch_df is pinned to the epoch's offsets
        b = _edit_distinct_titles(batch_df, id_col, title_col).localCheckpoint(eager=False)
        keys_b = _edit_index_keys(b, "tid").localCheckpoint(eager=False)
        t_new = batch_df.select(
            F.col(id_col).alias("tid"), F.col(title_col).alias("tt")
        ).localCheckpoint(eager=False)
        state = L.read_earlier(spark, batch_id, [keys_dir, titles_dir], owned=owned)
        if state is not None:
            corpus_keys, corpus = state
            probes = _edit_probe_keys(t_new, "new_id")
            # one candidate join feeds BOTH the guard and the verify:
            # corpus postings never shuffle (broadcast probe side), and
            # the matched frame is candidate-sized
            to = corpus.select(
                F.col("tid").alias("old_id"),
                F.col("tt").alias("__to"),
                F.col("grp").alias("g"),
            )
            matched = (
                corpus_keys.withColumnRenamed("tid", "old_id")
                .join(F.broadcast(probes), ["chunk", "clen", "sub"])
                .join(to, "old_id")
                .localCheckpoint(eager=False)
            )
            hot = (
                matched.groupBy("chunk", "clen", "sub")
                .agg(F.countDistinct("__to").alias("n"))
                .filter(F.col("n") > hot_key_cap)
                .limit(1)
                .collect()
            )
            if hot:
                raise ValueError(
                    f"edit_ingest_sink: >{hot_key_cap} distinct corpus titles "
                    f"share the probed key {hot[0].sub!r} — the candidate join "
                    "would go quadratic. Strip the shared boilerplate prefix "
                    "first or raise hot_key_cap deliberately."
                )
            tn = t_new.select(F.col("tid").alias("new_id"), F.col("tt").alias("__tn"))
            pairs = (
                matched.select("new_id", "old_id", "__to", "g")
                .distinct()
                .join(F.broadcast(tn), "new_id")
                .withColumn("lev", F.levenshtein("__tn", "__to").cast("int"))
                .filter(F.col("lev") <= 1)
                # re-collapse across batches: each batch holds its own
                # (rep, grp) row for a shared title
                .groupBy("new_id", "__to")
                .agg(
                    F.min("old_id").alias("old_id"),
                    F.min("lev").alias("lev"),
                    F.sum("g").cast("long").alias("n_old"),
                )
                .select("new_id", "old_id", "lev", "n_old")
            )
            L.write_batch(pairs, pairs_dir, batch_id)
        L.write_batch(keys_b, keys_dir, batch_id)
        L.write_batch(b, titles_dir, batch_id)
        if members_dir is not None:
            members = batch_df.select(F.col(id_col).alias("doc_id"), F.col(title_col).alias("tt"))
            L.write_batch(members, members_dir, batch_id)

    return apply


def edit_compact_state(
    spark: SparkSession,
    titles_dir: str,
    keys_dir: str,
    checkpoint_dir: str | None = None,
) -> tuple[int, int]:
    """Reclaim the edit sink's cross-batch duplicate state: a title
    ingested in k batches holds k ``(rep, grp)`` rows (and k copies of
    each blocking key), which the per-batch candidate join pays for on
    every probe hit. Collapses ``titles_dir`` to GLOBAL representatives
    (min id, summed group size — plans/layout.py::compact_stream_dir
    with a groupBy pre-merge, inheriting its commit-log gate and
    rename-aside crash safety), then rebuilds ``keys_dir`` from the
    collapsed titles under the same max batch id via its own
    rename-aside swap (the keys are a pure function of the titles —
    DERIVED state, rebuildable from titles_dir if a crash is ever
    suspected). Merge-on-read pair results are identical before and
    after: the sink's re-collapse min/sum over already-min/summed rows
    is the same global min/sum (asserted in tests). Quiesced-stream
    caveat as everywhere. Returns titles_dir ``(files_before,
    files_after)``."""
    out = L.compact_stream_dir(
        spark,
        titles_dir,
        pre_merge=lambda df: _collapse_title_rows(df).select("tid", "tt", "grp"),
        checkpoint_dir=checkpoint_dir,
    )
    _rebuild_edit_keys(spark, titles_dir, keys_dir)
    return out


def _collapse_title_rows(titles: DataFrame) -> DataFrame:
    """Global representative view of per-batch title rows ``(tid, tt,
    grp)``: min id, summed group size. One definition shared by
    edit_compact_state's pre-merge and edit_purge_state's completeness
    gate — the gate validates against exactly the collapse the state
    uses."""
    return titles.groupBy("tt").agg(
        F.min("tid").alias("tid"), F.sum("grp").cast("long").alias("grp")
    ).select("tt", "tid", "grp")


def _collapse_member_rows(members: DataFrame) -> DataFrame:
    """The same representative view derived from the member ledger
    ``(doc_id, tt)``: min member id, member count. Shared by
    edit_purge_state's titles rebuild and its completeness gate (ledger
    complete ⟺ this equals :func:`_collapse_title_rows` of the titles
    state)."""
    return members.groupBy("tt").agg(
        F.min("doc_id").alias("tid"), F.count(F.lit(1)).cast("long").alias("grp")
    ).select("tt", "tid", "grp")


def _rebuild_edit_keys(spark: SparkSession, titles_dir: str, keys_dir: str) -> None:
    """Swap in a fresh ``keys_dir`` derived from the CURRENT titles
    state, under the titles' max batch id (the keys are a pure function
    of the titles — DERIVED state, rebuildable from titles_dir if a
    crash is ever suspected). Shared by edit_compact_state and
    edit_purge_state; the rewrite, its stale-sibling recovery and its
    crash safety are plans/layout.py::_swap_rewrite's."""
    from is3107datapipelineproject_spark.operators.dedup import _edit_index_keys

    L._swap_rewrite(
        spark,
        keys_dir,
        lambda titles: _edit_index_keys(titles.drop("batch"), "tid"),
        source=titles_dir,
    )


def edit_purge_state(
    spark: SparkSession,
    titles_dir: str,
    keys_dir: str,
    pairs_dir: str,
    members_dir: str,
    deleted: DataFrame,
    id_col: str = "doc_id",
    title_col: str = "title",
    checkpoint_dir: str | None = None,
) -> None:
    """Right-to-be-forgotten purge of the edit-tier streaming state —
    closing the purge matrix's last hole (SURVEY §5.6 documented this
    as impossible from ids alone, because the titles state stores only
    batch-local min-id representatives + group sizes: a purged
    REPRESENTATIVE cannot be re-elected without knowing the other
    members). Two things make it exact:

    - a real deletion request carries the doomed docs' ids AND titles
      (``deleted`` must have ``id_col`` and ``title_col``), and
    - the sink's per-batch MEMBER LEDGER (``members_dir`` — one
      ``(doc_id, tt)`` row per ingested doc), which holds exactly the
      membership the titles state collapsed away.

    The purge leaves every state dir as if the docs had never been
    ingested (asserted in tests against a parallel never-ingested run):

    1. ``members_dir``: drop the deleted rows, PRESERVING per-batch
       provenance (rewrite_stream_dir) — later purges recompute
       historical pair batches from it;
    2. ``titles_dir``: re-collapse the surviving members globally
       (min id, count — the exact never-ingested merge-on-read view;
       a fully-deleted title vanishes, a purged representative is
       re-elected to the next-min survivor);
    3. ``keys_dir``: rebuilt from the collapsed titles (pure function);
    4. ``pairs_dir``: rows whose ``new_id`` was deleted are dropped;
       rows whose matched title group contained a deleted member are
       RECOMPUTED from the surviving members that preceded their batch
       (``old_id`` → min surviving earlier member, ``n_old`` → their
       count, row dropped when none survive) — exactly what a replay
       without the deleted docs would have produced, per batch;
       untouched titles' rows pass through bit-identical.

    Atomicity across the four rewrites follows the cluster tier's
    purge-intent protocol: the ``(id, title)`` set is staged on
    ``titles_dir`` before the first rewrite and cleared after the last;
    edit_ingest_sink refuses to fold batches while the marker exists;
    a crashed purge completes on the next call (every step is
    idempotent for an already-purged set, and purges compose by union).

    Scale shape: the deletion set broadcasts everywhere; the pair
    recompute's per-title member collect is bounded by the AFFECTED
    title groups' mass (the retract_from_cluster_state pressure valve —
    a request hitting a corpus-sized boilerplate group should rebuild
    instead); everything else is one narrow rewrite per state dir.
    Quiesced-stream caveat as for every compaction."""
    dset = deleted.select(
        F.col(id_col).alias("did"), F.col(title_col).alias("dtt")
    ).distinct()
    pending = L.read_purge_intent(spark, titles_dir)
    if pending is None:
        # Fail-fast completeness gate, BEFORE the marker or any rewrite:
        # steps 2-3 derive titles/keys WHOLLY from the ledger, so a
        # ledger that misses history (members_dir configured after the
        # sink's first batch) would silently drop every pre-ledger title
        # — and the step-4 old_id check cannot catch titles that never
        # appear in a pair row. The ledger is complete iff its collapse
        # reproduces the titles view exactly. On RESUME the state is
        # legitimately mid-rewrite (members may already be purged), so
        # the gate is skipped — the fresh purge that staged the marker
        # already passed it.
        # A crashed compaction may have left either dir renamed aside
        # (a purge is a legitimate next step after such a crash) —
        # recover before reading, like every rewrite's own prologue.
        L.recover_stale_sibling(spark, titles_dir)
        L.recover_stale_sibling(spark, members_dir)
        mpp, mpfs = L._hadoop_fs(spark, members_dir)
        if not mpfs.exists(mpp):
            raise ValueError(
                f"edit_purge_state: no member ledger at {members_dir} — the "
                "sink must persist it (members_dir) from its FIRST batch for "
                "the purge to be exact; without it the representative state "
                "cannot be repaired from ids+titles alone"
            )
        titles_view = _collapse_title_rows(spark.read.parquet(titles_dir).drop("batch"))
        ledger_view = _collapse_member_rows(spark.read.parquet(members_dir).drop("batch"))
        bad = (
            titles_view.exceptAll(ledger_view)
            .unionByName(ledger_view.exceptAll(titles_view))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"edit_purge_state: the member ledger at {members_dir} does "
                f"not reproduce the titles state (first divergence: "
                f"{bad[0].asDict()}) — it must cover the sink's FULL history "
                "(configured from batch 0). Refusing before any rewrite; "
                "state untouched"
            )
    else:
        dset = dset.unionByName(pending.toDF("did", "dtt")).distinct()
    # eager: write_purge_intent stages dset and every later rewrite must
    # drop exactly that set, so it is pinned before any state write.
    dset = dset.localCheckpoint(eager=True)
    L.write_purge_intent(spark, titles_dir, dset)
    dids = dset.select("did")

    # 1. member ledger: row removal, batch layout preserved
    def drop_members(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(dids), df["doc_id"] == F.col("did"), "left_anti")

    L.rewrite_stream_dir(spark, members_dir, drop_members, checkpoint_dir=checkpoint_dir)
    mem = spark.read.parquet(members_dir)  # post-purge = never-ingested members

    # 2. titles: the never-ingested collapse over surviving members
    def recollapse(_df: DataFrame) -> DataFrame:
        return _collapse_member_rows(mem.drop("batch")).select("tid", "tt", "grp")

    L.compact_stream_dir(spark, titles_dir, pre_merge=recollapse, checkpoint_dir=checkpoint_dir)

    # 3. keys: pure function of the collapsed titles
    _rebuild_edit_keys(spark, titles_dir, keys_dir)

    # 4. pairs: exact per-batch replay over surviving members
    aff_titles = dset.select(F.col("dtt").alias("tt")).distinct()
    id2tt = (
        mem.select(F.col("doc_id").alias("old_id"), "tt")
        .unionByName(dset.select(F.col("did").alias("old_id"), F.col("dtt").alias("tt")))
        .distinct()
    )
    aff_mem = (
        mem.join(F.broadcast(aff_titles), "tt", "left_semi")
        .groupBy("tt")
        .agg(F.collect_list(F.struct(F.col("batch").alias("b"), F.col("doc_id").alias("i"))).alias("ms"))
    )

    def rewrite_pairs(df: DataFrame) -> DataFrame:
        kept = df.join(F.broadcast(dids), df["new_id"] == F.col("did"), "left_anti")
        tagged = kept.join(id2tt, "old_id", "left")
        unresolved = tagged.filter(F.col("tt").isNull()).limit(1).collect()
        if unresolved:
            raise ValueError(
                f"edit_purge_state: pair row names old_id "
                f"{unresolved[0].old_id} with no member-ledger or request "
                f"title — the ledger must cover the sink's full history "
                "(pass members_dir from the first batch on)"
            )
        untouched = tagged.join(
            F.broadcast(aff_titles), "tt", "left_anti"
        ).select("batch", "new_id", "old_id", "lev", "n_old")
        before = F.filter("ms", lambda m: m["b"] < F.col("batch"))
        affected = (
            tagged.join(F.broadcast(aff_titles), "tt", "left_semi")
            .join(aff_mem, "tt", "left")
            .withColumn("__bf", F.coalesce(before, F.array()))
            .withColumn("n_old", F.size("__bf").cast("long"))
            .filter(F.col("n_old") >= 1)
            .withColumn("old_id", F.array_min(F.transform("__bf", lambda m: m["i"])))
            .select("batch", "new_id", "old_id", "lev", "n_old")
        )
        return untouched.unionByName(affected)

    # A crash INSIDE a prior purge's pairs staged_swap leaves pairs_dir
    # missing with the UNPURGED log at pairs_dir.compact_old; checking
    # existence without recovering first would skip the pairs rewrite,
    # clear the marker, and let a later recover resurrect forgotten ids
    # (round-10 ADVICE-high). Recover BEFORE deciding "no pair log yet".
    L.recover_stale_sibling(spark, pairs_dir)
    pp, pfs = L._hadoop_fs(spark, pairs_dir)
    if pfs.exists(pp):  # a one-batch corpus has no pair log yet
        L.rewrite_stream_dir(spark, pairs_dir, rewrite_pairs, checkpoint_dir=checkpoint_dir)
    L.clear_purge_intent(spark, titles_dir)


def cluster_ingest_sink(
    sig_dir: str,
    labels_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
):
    """Streaming maintenance of the near-dup CLUSTER LABEL table — the
    stream twin of operators/dedup.py::incremental_cluster_update,
    closing the last dedup maintenance loop: the pair tiers already
    ingest incrementally, but the labels view (what corpus_dedup_keep
    actually consumes) previously required a corpus-wide fixpoint
    recompute after every ingest. Per micro-batch of arriving
    documents,

    1. builds the batch's LSH band/signature frame once and detects the
       batch's new edges — new×old against the PERSISTED signature
       table at ``sig_dir`` (corpus text never re-read) plus the
       batch-local new×new pair scan;
    2. folds the persisted labels forward through those edges by
       cluster contraction (the fixpoint runs on the batch-sized
       supernode graph; the label table is touched by broadcast joins
       only) and appends the DELTA — every batch id plus the old rows
       whose label changed — to ``labels_dir``;
    3. appends the batch's bands to ``sig_dir`` for the next trigger.

    Label state is MONOTONE: new edges only add connectivity, so a
    doc's min-reachable-id label only ever DECREASES across batches.
    That makes the upsert log merge-on-read invariant under a plain
    min — ``cluster_labels_read`` is a min-agg, latest-wins and
    min-wins coincide, and compaction is compact_stream_dir with a
    min pre-merge (``cluster_compact_state``), inheriting its
    commit-log gate and rename-aside crash safety.

    Retry-safe, cold-start and crash contract:
    plans/layout.py::read_earlier — a replay recomputes the identical
    delta from the identical prior state (asserted in tests).

    At 100 TB the relabel side stays a broadcast, but the delta scan
    of the label table is corpus-wide unless the table is bucketed by
    ``cluster_id`` — production would bucket the compacted snapshot so
    the touched-cluster filter prunes (the edge-table layout's
    pattern); the merge-on-read log here keeps the demo exact.
    """
    from is3107datapipelineproject_spark.operators.dedup import (
        band_signature_frame,
        incremental_cluster_update,
        incremental_neardup_from_bands,
        minhash_neardup_pairs,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        L.assert_no_purge_intent(spark, labels_dir, "cluster_ingest_sink")
        # with_sig: the persisted band table carries the packed minhash
        # array so a later cluster_purge_state re-derivation keeps the
        # hot-band sub-banding tier (pairs_from_band_table).
        # lazy is deterministic here: batch_df is pinned to the epoch's offsets
        nb = band_signature_frame(
            batch_df, text_col, id_col, k, with_sig=True
        ).localCheckpoint(eager=False)
        state = L.read_earlier(spark, batch_id, [sig_dir], owned=[labels_dir])
        edges = minhash_neardup_pairs(
            batch_df, text_col, id_col, k=k, threshold=threshold
        ).select("doc1", "doc2")
        if state is not None:
            nx_old = incremental_neardup_from_bands(
                state[0].select("doc_id", "hs", "band").toDF("old_id", "old_hs", "band"),
                nb.select("doc_id", "hs", "band").toDF("new_id", "new_hs", "band"),
                threshold=threshold,
            ).select(F.col("new_id").alias("doc1"), F.col("old_id").alias("doc2"))
            edges = edges.unionByName(nx_old)
            old_labels = cluster_labels_read(
                spark, labels_dir, id_col=id_col, before=batch_id
            )
        else:
            old_labels = spark.createDataFrame(
                [], f"{id_col} long, cluster_id long"
            )
        delta = incremental_cluster_update(
            old_labels,
            batch_df.select(id_col),
            edges,
            id_col,
            delta_only=True,
        )
        L.write_batch(delta, labels_dir, batch_id)
        L.write_batch(nb, sig_dir, batch_id)

    return apply


def cluster_labels_read(
    spark: SparkSession,
    labels_dir: str,
    id_col: str = "doc_id",
    before: int | None = None,
) -> DataFrame:
    """Merge-on-read view of the cluster label log: one row per doc,
    ``cluster_id`` = min across its upsert versions — identical to
    latest-wins because labels are monotone non-increasing (see
    cluster_ingest_sink). ``before`` filters to strictly earlier batch
    ids (the sinks' replay-safe state read).

    Like every rewrite's prologue, a mid-swap-crashed compaction
    (labels_dir missing, the corpus at the ``.compact_old`` aside) is
    recovered before reading — the aside copy IS the state at that
    crash point, so a query-side read never wedges on PATH_NOT_FOUND
    while the data sits one rename away. Recovery runs in READER mode:
    no aside reclaim (that mutation is maintenance's), and the primary
    is re-checked once before the restoring rename so a read racing a
    LIVE staged_swap observes the swap completing instead of aborting
    it — pure reads mutate only when the primary is genuinely absent."""
    L.recover_stale_sibling(spark, labels_dir, reader=True)
    df = spark.read.parquet(labels_dir)
    if before is not None:
        df = df.filter(F.col("batch") < before)
    return df.groupBy(F.col(id_col)).agg(F.min("cluster_id").alias("cluster_id"))


def cluster_compact_state(
    spark: SparkSession, labels_dir: str, checkpoint_dir: str | None = None
) -> tuple[int, int]:
    """Collapse the label upsert log to one row per doc (min label —
    merge-on-read invariant by monotonicity), via compact_stream_dir's
    commit-log-gated, rename-aside machinery. Quiesced-stream caveat
    as everywhere. Returns ``(files_before, files_after)``."""

    def collapse(df: DataFrame) -> DataFrame:
        key = [c for c in df.columns if c != "cluster_id"][0]
        return df.groupBy(key).agg(F.min("cluster_id").alias("cluster_id"))

    return L.compact_stream_dir(spark, labels_dir, pre_merge=collapse, checkpoint_dir=checkpoint_dir)


def cluster_purge_state(
    spark: SparkSession,
    labels_dir: str,
    sig_dir: str,
    deleted: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
) -> None:
    """Right-to-be-forgotten purge of the streaming dedup state: remove
    the deleted docs' bands from ``sig_dir`` and RETRACT their labels
    from ``labels_dir`` (operators/dedup.py::retract_from_cluster_state
    — affected clusters only; pair re-derivation runs on the persisted
    band table via pairs_from_band_table, so the purged corpus text is
    never re-read... it was hashed once at ingest and may not even
    exist anymore, which is the point of the purge).

    Deletion breaks the label log's monotonicity (a split can move a
    survivor's label UP), so a purge cannot be an upsert append — it is
    a stage-and-swap REWRITE of both state dirs through
    compact_stream_dir's commit-log-gated, rename-aside machinery with
    purging pre-merges. Unlike compaction these pre-merges CHANGE the
    merged view by design. I/O is one rewrite of two narrow state
    tables; compute is bounded by the affected-cluster mass. Quiesced-
    stream caveat as for every compaction; after the purge, subsequent
    ingest batches pair only against surviving state (asserted in
    tests — the forgotten docs stay forgotten).

    The TWO rewrites are made atomic-in-effect by a PURGE-INTENT marker
    (plans/layout.py::write_purge_intent on ``labels_dir``): the
    deleted-id set is staged durably BEFORE the first rewrite and
    cleared only after the second, cluster_ingest_sink refuses to fold
    batches while the marker exists, and a crashed purge is completed
    by simply calling this function again (any ``deleted`` frame — the
    pending set is merged in; both purging pre-merges are idempotent
    for already-purged ids, and sequential purges compose: state after
    purge(A) then purge(B) equals purge(A ∪ B) equals never-ingested,
    asserted in tests across every crash window).
    """
    from is3107datapipelineproject_spark.operators.dedup import (
        pairs_from_band_table,
        retract_from_cluster_state,
    )

    # A prior compaction (or this purge's own bands rewrite) may have
    # crashed mid-swap, leaving either dir renamed aside — and the
    # spark.read below resolves sig_dir EAGERLY, before
    # compact_stream_dir's own recovery prologue could run (round-10
    # ADVICE-medium: a missing sig_dir wedged the resume behind a
    # PATH_NOT_FOUND while the staged marker kept blocking ingest).
    L.recover_stale_sibling(spark, sig_dir)
    L.recover_stale_sibling(spark, labels_dir)
    dset = deleted.select(F.col(id_col).alias("did")).distinct()
    pending = L.read_purge_intent(spark, labels_dir)
    if pending is not None:
        # A prior purge crashed between its rewrites: merge its staged
        # set in, so this run completes BOTH purges (exact — purges
        # compose by union) before the marker clears.
        dset = dset.unionByName(pending.toDF("did")).distinct()
    # eager: pins the purge set before any state write
    dset = dset.localCheckpoint(eager=True)
    L.write_purge_intent(spark, labels_dir, dset)
    # the labels pre-merge re-derives affected pairs from the PRE-purge
    # band table: safe without a corpus-sized checkpoint because the
    # labels rewrite completes before the bands dir is touched, in
    # program order below.
    # mergeSchema: a mixed-era band table (legacy 3-column batches +
    # with_sig batches) must ALWAYS surface the sig column — default
    # schema sampling may infer from a legacy file and silently drop it,
    # making pairs_from_band_table's hot-band tier choice (and its
    # NULL-sig loud-fail guard) depend on which footer Spark sampled.
    bands = spark.read.option("mergeSchema", "true").parquet(sig_dir).drop("batch")

    def purge_labels(df: DataFrame) -> DataFrame:
        labels = df.groupBy(F.col(id_col)).agg(F.min("cluster_id").alias("cluster_id"))
        survivors = labels.join(
            F.broadcast(dset), labels[id_col] == F.col("did"), "left_anti"
        ).select(id_col)
        return retract_from_cluster_state(
            survivors,
            labels,
            dset.select(F.col("did").alias(id_col)),
            id_col=id_col,
            pairs_fn=lambda aff: pairs_from_band_table(
                bands.join(
                    F.broadcast(aff.select(F.col(id_col).alias("doc_id"))),
                    "doc_id",
                    "left_semi",
                ),
                threshold=threshold,
            ),
        )

    def purge_bands(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(dset), df["doc_id"] == F.col("did"), "left_anti")

    L.compact_stream_dir(spark, labels_dir, pre_merge=purge_labels, checkpoint_dir=checkpoint_dir)
    L.compact_stream_dir(spark, sig_dir, pre_merge=purge_bands, checkpoint_dir=checkpoint_dir)
    L.clear_purge_intent(spark, labels_dir)


def purge_stream_state(
    spark: SparkSession,
    path: str,
    id_cols: tuple[str, ...],
    deleted: DataFrame,
    deleted_col: str | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[int, int]:
    """Generic right-to-be-forgotten purge for the per-ROW streaming
    state dirs (MinHash signature/pair logs, semantic member/pair logs
    — any ``batch=<id>`` log whose rows belong to exactly the ids they
    name): drop every row where ANY of ``id_cols`` matches a deleted
    id, through compact_stream_dir's commit-log-gated rename-aside
    rewrite. One function covers both sides of a pair log (pass
    ``("new_id", "old_id")``) and the one-row-per-doc member/signature
    logs (pass ``("doc_id",)`` / ``("vid",)``).

    This is the SIMPLE tier of the purge story: these logs need no
    recomputation, only row removal. The label log additionally needs
    retraction (cluster_purge_state), the ANN codes table is
    partition-pruned in place (ann_index_delete), the arc table
    retracts by negative append (edge_table_retract), and the edit-tier
    title state — impossible from ids alone, since it stores only
    min-id representatives + group sizes — purges exactly through
    :func:`edit_purge_state`, which combines the deletion request's
    (id, title) pairs with the sink's member ledger to re-elect
    representatives and replay historical pair batches over survivors.

    ``deleted`` is a 1-column frame; ``deleted_col`` names it (defaults
    to the frame's only column). Quiesced-stream caveat as for every
    compaction. Returns ``(files_before, files_after)``."""
    dc = deleted_col or deleted.columns[0]
    # eager: pins the purge set before any state write
    dset = deleted.select(F.col(dc).alias("__purged")).distinct().localCheckpoint(
        eager=True
    )

    def drop_rows(df: DataFrame) -> DataFrame:
        out = df
        for c in id_cols:
            out = out.join(
                F.broadcast(dset), out[c] == F.col("__purged"), "left_anti"
            )
        return out

    return L.compact_stream_dir(spark, path, pre_merge=drop_rows, checkpoint_dir=checkpoint_dir)


def semantic_ingest_sink(
    centroids_table: str,
    members_dir: str,
    pairs_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_cluster: int = 4000,
):
    """Streaming corpus ingest with every-batch SEMANTIC (cosine ≥ τ)
    near-dup detection — the stream twin of
    operators/clustering.py::incremental_semantic_neardup, giving the
    semantic tier all three entry points like the text tiers. Per
    micro-batch of arriving ``(id, vector)`` rows,

    1. routes the batch against the FROZEN stored centroids
       (``centroids_table`` — the ann_ingest_sink contract: never
       retrain, so cluster state stays a pure per-row function of the
       model and persisted member assignments never go stale; model
       drift is handled by refit + rebuild, exactly like the ANN
       index);
    2. compares arrivals against the PERSISTED cluster members at
       ``members_dir``: small clusters exactly (batch × ≤ cap), old
       clusters past ``max_cluster`` by the min-id STAR — the one-shot
       operator's identical routing; the corpus members never shuffle
       (arrivals broadcast onto the cluster-keyed member stream);
    3. appends surviving ``(new_id, old_id, cosine)`` pairs (cosine
       rounded to 4 dp before the threshold) to ``pairs_dir``;
    4. appends the batch's ``(vid, cluster, vec, norm)`` member rows,
       so the NEXT batch sees this one as corpus.

    Stream == batch: with ``centroids_table`` fit on the earlier
    batches' union, a batch's pairs equal
    ``incremental_semantic_neardup`` run with those batches as corpus
    (deterministic Lloyd is order-free — asserted in tests). Members
    are one row per vector, so no cross-batch duplicate state
    accumulates (no edit_compact_state analogue needed; small-files
    hygiene is plans/layout.py::compact_stream_dir as usual).
    Retry-safe, cold-start and crash contract:
    plans/layout.py::read_earlier."""
    from is3107datapipelineproject_spark.operators.clustering import (
        assign_to_centroids,
    )
    from is3107datapipelineproject_spark.operators.similarity import dot, l2_norm

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cents = spark.table(centroids_table)
        vn = batch_df.select(
            F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
        ).select("vid", "vec", l2_norm(F.col("vec")).alias("norm"))
        # lazy is deterministic here: batch_df is pinned to the epoch's offsets
        b = (
            assign_to_centroids(batch_df, id_col, vec_col, cents)
            .select(F.col(id_col).alias("vid"), "cluster")
            .join(vn, "vid")
            .localCheckpoint(eager=False)
        )
        state = L.read_earlier(spark, batch_id, [members_dir], owned=[pairs_dir])
        if state is not None:
            corpus = state[0]
            sizes = corpus.groupBy("cluster").agg(F.count(F.lit(1)).alias("csz"))
            o = corpus.join(F.broadcast(sizes), "cluster")
            nrows = b.select(
                "cluster",
                F.col("vid").alias("new_id"),
                F.col("vec").alias("nvec"),
                F.col("norm").alias("nnorm"),
            )
            sim = F.round(
                dot(F.col("vec"), F.col("nvec")) / (F.col("norm") * F.col("nnorm")), 4
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
                    corpus.select(
                        F.col("vid").alias("cvid"), "vec", "norm"
                    ),
                    "cvid",
                )
            )
            big = (
                nrows.join(F.broadcast(ctr), "cluster")
                .select(F.col("new_id"), F.col("cvid").alias("old_id"), sim.alias("cosine"))
                .filter(F.col("cosine") >= threshold)
            )
            L.write_batch(small.unionByName(big), pairs_dir, batch_id)
        L.write_batch(b, members_dir, batch_id)

    return apply


def ann_ingest_sink(
    centroids_table: str,
    codebook_table: str,
    codes_dir: str,
    m: int = 8,
    k: int = 16,
):
    """Streaming ANN-index maintenance — the stream twin of
    plans/indexes.py::ann_index_append: per micro-batch of arriving
    ``(vec_id, embedding)`` rows, encode against the FROZEN stored
    centroids + codebook (never retrain — the frozen-model contract
    that keeps the index state a pure per-row function of the corpus)
    and append the ``(vec_id, sub, code, cluster)`` codes to
    ``codes_dir``.

    Retry-safe and crash contract: plans/layout.py::read_earlier (cluster
    stays the second-level partition key under ``batch=<id>``, so
    cluster-filter pruning still works on the directory). Streamed
    codes == the batch append's, bit-for-bit (asserted in tests)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from is3107datapipelineproject_spark.operators.clustering import (
            assign_to_centroids,
        )
        from is3107datapipelineproject_spark.operators.pq import pq_encode

        spark = batch_df.sparkSession
        cents = spark.table(centroids_table)
        cb = spark.table(codebook_table)
        asg = assign_to_centroids(batch_df, "vec_id", "embedding", cents)
        codes = pq_encode(batch_df, "vec_id", "embedding", m=m, k=k, codebook=cb)
        out = codes.join(asg.select("vec_id", "cluster"), "vec_id").repartition("cluster")
        L.write_batch(out, codes_dir, batch_id, partition_by=("cluster",))

    return apply


def nation_window_revenue(
    events: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STATIC enrichment join + windowed rollup: purchase events
    joined to the static customer→nation dimension (broadcast equi-join
    — Structured Streaming executes stream-static joins statelessly,
    re-reading the static side per micro-batch, so this costs no state
    store at all, unlike the stream-stream interval join in
    click_purchase_attribution), then a tumbling event-time revenue
    window per nation. Works identically on batch and streaming frames;
    the oracle runs the batch twin and
    tests/test_layout_and_streaming.py asserts stream(availableNow) ==
    batch. The dim join is the canonical streaming-enrichment shape at
    100 TB/day: the fact stream never shuffles — it broadcasts the dim
    and aggregates partially within each micro-batch."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    dim = (
        customer.select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("user_id", "n_name")
    )
    e = src.filter(F.col("event_type") == "purchase").join(F.broadcast(dim), "user_id")
    return (
        e.groupBy(F.window("ts", window).alias("w"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .select(F.col("w.start").alias("window_start"), "n_name", "cnt", "revenue")
    )
