"""Build-once / query-many derived tables: the co-purchase edge and arc
tables, the persisted IVF-PQ indexes, the near-dup label and band
tables, and the re-laid-out fact tables (bucketed, z-ordered,
year-partitioned).

- ``copurchase_edge_table``: pre-normalized arcs ``(src, dst, w, ow)``
  BUCKETED by ``src`` (plans/layout.py::write_bucketed). A bucketed
  scan reports HashPartitioning(src), so each PageRank/BFS/k-core
  iteration shuffles ONLY the O(|V|) rank/frontier vector — the O(|E|)
  edge side never exchanges again, and the pair-generation double
  shuffle is paid once per corpus version.
- ``ivfpq_index_tables``: the three tables a billion-vector ANN
  deployment stores — coarse k-means centroids (k rows), the PQ
  codebook (m·k rows), and the per-vector codes PARTITIONED by coarse
  cluster, so a query's candidate scan partition-prunes to ~1/k_coarse
  of the files at PLANNING time (PartitionFilters in the explain), and
  scoring runs purely in the compressed domain (codes join the
  broadcast ADC table; the original d-dim vectors are never read).

Every builder goes through :func:`build_once`, the one build-once
contract:

- latch: a build counts as done only when its ``*_ready`` marker AND
  every table it writes are in the catalog;
- otherwise each of those tables and the marker is DROPped and its
  warehouse location swept (a new session's in-memory catalog forgets
  tables whose directories survive on disk), the build runs, and the
  marker is written LAST — a build that dies midway never latches, and
  a table lost after a build is rebuilt, not latched.

Derived contents are pure functions of the source parquet, so a rebuild
is always safe, and the DuckDB oracles of the from-index queries are
the same unrolled chains as their rebuild-every-time siblings.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.plans.layout import (
    _data_files,
    _drop_table,
    _sweep_stale_location,
    _table_location,
    compact_table,
    layout_stats,
    should_compact,
    write_bucketed,
)
from is3107datapipelineproject_spark.sources.tables import load_table


def _tag(sf_dir: str) -> str:
    return re.sub(r"[^a-zA-Z0-9]", "_", sf_dir.strip("/"))


def _write_marker(spark: SparkSession, marker: str) -> None:
    spark.range(1).coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(marker)


def build_once(
    spark: SparkSession,
    marker: str,
    tables: Iterable[str],
    build: Callable[[], None],
    recover: Callable[[], bool] | None = None,
) -> None:
    """Run ``build``, which writes ``tables``, unless ``marker`` and all
    of ``tables`` are already in the catalog (the contract in the module
    docstring). ``recover``, tried before anything is dropped, may
    restore a complete state that a crashed maintenance step left; it
    returns True once it has written the marker itself."""
    tables = tuple(tables)
    if all(spark.catalog.tableExists(t) for t in (marker, *tables)):
        return
    if recover is not None and recover():
        return
    for t in (*tables, marker):
        _drop_table(spark, t)
    build()
    _write_marker(spark, marker)


# The arc/edges tables carry an explicit src-derived partition column
# on TOP of the src bucketing: pb = pmod(hash(src), EDGE_PB_PARTS).
# Bucketing gives the zero-exchange join/aggregate contract; the pb
# partition DIRECTORIES give addressable units of maintenance — an
# append records which pb values its srcs touch, and the renormalize
# step can then rewrite ONLY those edges partitions (dynamic partition
# overwrite) instead of the whole table. EDGE_PB_PARTS is a multiple of
# the bucket count, so each partition directory holds exactly one
# non-empty bucket file (hash(src) % 64 = pb fixes hash(src) % 16) —
# file count stays EDGE_PB_PARTS, not EDGE_PB_PARTS × buckets.
EDGE_PB_PARTS = 64


def _pb(col: str = "src") -> Column:
    return F.pmod(F.hash(col), F.lit(EDGE_PB_PARTS))


def _write_pb_bucketed(
    df: DataFrame, table: str, n_buckets: int, mode: str = "overwrite"
) -> None:
    """pb-partitioned + src-bucketed writer for the co-purchase arc and
    edges tables (adds ``pb`` if absent). The scan of such a table
    still reports HashPartitioning(src) — bucket files with the same id
    merge across partition directories — so every zero-exchange plan
    contract is unchanged; partition pruning on ``pb`` is gained."""
    if "pb" not in df.columns:
        df = df.withColumn("pb", _pb("src"))
    cols = [c for c in df.columns if c != "pb"] + ["pb"]
    (
        df.select(*cols)
        .repartition(n_buckets, F.col("src"))
        .write.mode(mode)
        .partitionBy("pb")
        .bucketBy(n_buckets, "src")
        .sortBy("src")
        .format("parquet")
        .saveAsTable(table)
    )


def copurchase_edge_table(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> DataFrame:
    """Materialize (once) and scan the pre-normalized co-purchase edge
    table: both directed arcs of every unordered part pair sharing an
    order, weight = co-occurrence count, out-weight pre-joined —
    exactly the ``edge_norm`` frame every iterative graph operator
    builds internally, paid once instead of per query. pb-partitioned +
    src-bucketed (see EDGE_PB_PARTS) so post-burst maintenance can
    rewrite only the touched partitions."""
    from is3107datapipelineproject_spark.operators.graph import undirected_to_directed
    from is3107datapipelineproject_spark.operators.pair_counts import pair_counts

    table = f"copurchase_edges_{_tag(sf_dir)}"

    def build() -> None:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        pairs = pair_counts(li, "l_orderkey", "l_partkey")
        edges = undirected_to_directed(pairs, "member1", "member2", "cnt")
        outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
        edge_norm = edges.join(outw, "src").select("src", "dst", "w", "ow")
        _write_pb_bucketed(edge_norm, table, n_buckets)

    build_once(spark, f"{table}_ready", [table], build)
    return spark.table(table)


def _refresh_edges_from_arcs(
    spark: SparkSession, arc_table: str, edges_table: str, n_buckets: int = 16
) -> None:
    """FULL stage-and-swap rebuild of a pre-normalized edges table from
    the (compacted) arc table — shared core of renormalize_edge_table
    and the auto-refresh hook in edge_table_append's compaction trigger
    (which prefers the touched-partition incremental path when the
    append log makes it possible). Clears the touched-pb log: a full
    refresh covers everything the log remembers. The refreshed table
    counts as built (copurchase_edge_table's marker is dropped before
    the swap and written after it), so the next copurchase_edge_table
    call reads it instead of rebuilding from source and losing every
    appended or retracted arc."""
    staged = f"{edges_table}__renorm"
    marker = f"{edges_table}_ready"
    _drop_table(spark, staged)
    _write_pb_bucketed(merged_edge_norm(spark, arc_table), staged, n_buckets)
    _drop_table(spark, marker)
    _drop_table(spark, edges_table)
    spark.sql(f"ALTER TABLE {staged} RENAME TO {edges_table}")
    # renaming a PARTITIONED managed table keeps each partition's
    # ABSOLUTE location pointing at the old path — repair or the
    # renamed table reads empty
    spark.sql(f"MSCK REPAIR TABLE {edges_table} SYNC PARTITIONS")
    _write_marker(spark, marker)
    _clear_touched_log(spark, arc_table)


def renormalize_edge_table(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> str:
    """Refresh the PRE-NORMALIZED edge table from the (compacted) arc
    table — the second half of post-burst maintenance. The round-8 ×100
    probe showed compaction ALONE cannot restore the amortized query
    cost: pagerank_from_merged_edges re-derives its lazy merge-on-read
    view inside every rank iteration, so even fully-merged arcs pay the
    two O(|E|) aggregates ×3 (173 s pre-compact → 144 s post-compact,
    never the from-edges 45 s). The production loop is therefore
    append → compact_arc_table → THIS (one exchange-free aggregate pass
    off the bucketed arcs + a bucketed write — no pair-gen), after which
    the from-edges queries run at their amortized cost again. Refreshed
    contents are bit-identical to a from-scratch copurchase_edge_table
    build (arc additivity; asserted in tests). Stage-and-swap like
    compact_arc_table: the frame is corpus-sized, never checkpointed."""
    arc_table = edge_append_tables(spark, sf_dir, n_buckets=n_buckets)
    table = f"copurchase_edges_{_tag(sf_dir)}"
    _refresh_edges_from_arcs(spark, arc_table, table, n_buckets=n_buckets)
    return table


def _touched_log_table(arc_table: str) -> str:
    return f"{arc_table}_touched"


def _record_touched(spark: SparkSession, arc_table: str, arcs: DataFrame) -> None:
    """Append the DISTINCT pb values an arc batch touches to the arc
    table's touched-pb log (≤ EDGE_PB_PARTS tiny rows per append). The
    log is what makes renormalization cost proportional to the BURST,
    not the table: srcs absent from every appended batch have unchanged
    arc rows AND unchanged out-weights (both are per-src aggregates,
    and every arc of src s lives in partition pb(s)), so their edges
    partitions need no rewrite."""
    touched = arcs.select(_pb("src").alias("pb")).distinct()
    log = _touched_log_table(arc_table)
    if not spark.catalog.tableExists(log):
        _sweep_stale_location(spark, log)
    touched.coalesce(1).write.mode("append").format("parquet").saveAsTable(log)


def _clear_touched_log(spark: SparkSession, arc_table: str) -> None:
    log = _touched_log_table(arc_table)
    if spark.catalog.tableExists(log):
        spark.createDataFrame([], "pb int").write.mode("overwrite").format(
            "parquet"
        ).saveAsTable(log)


def renormalize_edge_table_incremental(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> tuple[int, int]:
    """Touched-partition renormalization (round-8 verdict item 5): the
    full refresh costs the whole-table aggregate + rewrite after every
    compaction (145 s at ×100) even when a burst touched a minority of
    src keys. This rewrites ONLY the edges partitions whose pb values
    appear in the touched-pb log accumulated by ``edge_table_append``:

    - the arc read partition-prunes to the touched pbs (planning-time
      PartitionFilters — cost ∝ touched data, not table size);
    - per-(src,dst) merge + out-weight recompute stay exchange-free on
      the pruned bucketed scan (HashPartitioning(src) survives the
      partition filter);
    - the write is a dynamic partition OVERWRITE of just those pb
      directories (Spark stages new files and swaps at job commit).

    Self-contained per partition BY CONSTRUCTION: all arcs of src s
    live in pb(s), and ow(s) is a per-src sum, so a partition's fresh
    contents derive from that partition's arcs alone. Contents are
    bit-identical to a full refresh (asserted in tests). The log is
    cleared AFTER the overwrite commits — a crash between the two
    merely redoes idempotent partition rewrites on the next call; a
    crash mid-job discards the staged files and leaves the old
    partitions (the edges table is derived state — a full refresh
    rebuilds it from the arcs if it is ever suspect). Falls back to a
    FULL refresh when the edges twin, its marker or the log is missing.
    Returns ``(partitions_rewritten, EDGE_PB_PARTS)``."""
    arc_table = edge_append_tables(spark, sf_dir, n_buckets=n_buckets)
    edges = f"copurchase_edges_{_tag(sf_dir)}"
    return _renorm_incremental_tables(spark, arc_table, edges, n_buckets)


def _renorm_incremental_tables(
    spark: SparkSession, arc_table: str, edges: str, n_buckets: int
) -> tuple[int, int]:
    log = _touched_log_table(arc_table)
    # an edges table without its marker may be a half-built one, which
    # rewriting the touched partitions alone would not make whole
    if not all(spark.catalog.tableExists(t) for t in (edges, f"{edges}_ready", log)):
        _refresh_edges_from_arcs(spark, arc_table, edges, n_buckets=n_buckets)
        return EDGE_PB_PARTS, EDGE_PB_PARTS  # full refresh fallback
    pbs = sorted(r.pb for r in spark.table(log).distinct().collect())
    if not pbs:
        return 0, EDGE_PB_PARTS
    arcs = spark.table(arc_table).filter(F.col("pb").isin(pbs))
    merged = (
        arcs.groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
        # strictly-positive contract (see merged_edge_norm): a touched
        # pair fully retracted since the last refresh must vanish here
        .filter(F.col("w") > 0)
    )
    outw = merged.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    fresh = (
        merged.join(outw.hint("shuffle_hash"), "src")
        .select("src", "dst", "w", "ow")
        .withColumn("pb", _pb("src"))
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            fresh.repartition(n_buckets, F.col("src"))
            .write.mode("overwrite")
            .insertInto(edges)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # a retraction can empty a touched pb entirely: dynamic overwrite
    # writes nothing for it, and the stale partition would resurrect its
    # edges — drop explicitly (same hazard as ann_index_delete's wiped
    # cluster). `fresh` is bounded by the touched partitions, so the
    # distinct-pb probe is cheap.
    nonempty = {r.pb for r in fresh.select("pb").distinct().collect()}
    for pb in pbs:
        if pb not in nonempty:
            spark.sql(f"ALTER TABLE {edges} DROP IF EXISTS PARTITION (pb={int(pb)})")
    _clear_touched_log(spark, arc_table)
    return len(pbs), EDGE_PB_PARTS


def copurchase_edge_arcs(li: DataFrame) -> DataFrame:
    """Raw weighted arcs ``(src, dst, w)`` of the co-purchase graph for
    one slice of lineitem — the ADDITIVE representation: pairs are
    generated inside single orders, so any partition of the corpus BY
    ORDER yields arc multisets whose per-(src,dst) weight sums equal
    the full build's. That additivity is what makes the edge table
    incrementally maintainable (``edge_table_append``)."""
    from is3107datapipelineproject_spark.operators.graph import undirected_to_directed
    from is3107datapipelineproject_spark.operators.pair_counts import pair_counts

    pairs = pair_counts(li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey")
    return undirected_to_directed(pairs, "member1", "member2", "cnt")


# Ingest split for the edge-append demo surfaces: orders with
# o_orderkey % 7 == 3 "arrive" after the base build. Orders are the
# pair-generating unit, so an order-grain split keeps every pair group
# intact — base arcs + delta arcs sum to exactly the full build's arcs.
EDGE_APPEND_MOD = 7
EDGE_APPEND_REM = 3


def _recover_crashed_compaction(
    spark: SparkSession, table: str, n_buckets: int = 16
) -> bool:
    """Distinguish a crashed COMPACTION from a crashed initial BUILD
    when edge_append_tables does not latch, and recover the former
    instead of dropping production-appended arcs (the ``recover`` step
    of :func:`build_once`, run before its drop).

    compact_arc_table's swap ordering is: staged merge written →
    marker DROP → table DROP → RENAME staged→table → marker rewrite.
    A crash inside that window leaves the marker missing while a
    COMPLETE copy of the arcs survives — the original ``table``, the
    fully-written ``<table>__compacting`` merge, or both. The old
    rebuild path treated every missing marker as a half-built initial
    build and DROPped whatever existed, rebuilding from the BASE corpus
    — silently discarding every arc appended since (the round-9 ADVICE
    finding). The discriminator is the ``*_compactmeta`` table: it is
    only ever written AFTER a fully-completed build or compaction, so
    meta-present + marker-missing ⟹ the table once reached a complete
    state ⟹ what survives is recoverable, never half-built (the build
    drops a stale meta before it writes anything). (A crash
    DURING the staged write leaves the marker intact, so a surviving
    staged table on this path is always complete.)

    When BOTH survive, neither side automatically wins — an append may
    have landed while the table was unlatched (edge_table_append does
    not consult the marker):

    - ``table`` is the pre-crash original (⊇ the staged snapshot,
      possibly plus post-crash appends) — keep it, discard staged
      (loses only the crashed compaction's WORK, which the growth
      policy redoes); or
    - window 2's sharp edge: the crash already DROPped the original,
      and a post-crash append re-CREATED ``table`` holding ONLY that
      burst — then ``staged`` is the corpus and dropping either side
      silently loses data: the recovery is their UNION (raw arcs are
      ADDITIVE, so a row-level union is exactly base-corpus + burst).

    Arc additivity also gives the discriminator: a complete table's
    total weight is ≥ the staged snapshot's (compaction preserves
    Σw; appends only add), so Σw(table) < Σw(staged) PROVES ``table``
    is a post-crash burst-only remnant. The union is staged to a
    ``__recovering`` sibling before anything is dropped (the standing
    stage-and-swap rule), and branch order prefers ``__recovering``
    over ``__compacting`` on re-entry — it is only ever written as a
    superset of staged.

    Returns True if a complete state was recovered and re-latched."""
    if not spark.catalog.tableExists(_arc_meta_table(table)):
        return False  # never completed a build — rebuild is correct
    staged = f"{table}__compacting"
    recovering = f"{table}__recovering"

    def _swap_in(src_table: str) -> None:
        _sweep_stale_location(spark, table)
        spark.sql(f"ALTER TABLE {src_table} RENAME TO {table}")
        spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")

    def _total_w(t: str) -> int:
        row = spark.table(t).agg(F.sum("w")).first()
        return int(row[0] or 0)

    if spark.catalog.tableExists(table) and spark.catalog.tableExists(staged):
        if _total_w(table) >= _total_w(staged):
            _drop_table(spark, recovering)
            _drop_table(spark, staged)
        else:
            # burst-only remnant + corpus snapshot → union both
            union = (
                spark.table(staged)
                .select("src", "dst", "w")
                .unionByName(spark.table(table).select("src", "dst", "w"))
            )
            _drop_table(spark, recovering)
            _write_pb_bucketed(union, recovering, n_buckets)
            _drop_table(spark, table)
            _swap_in(recovering)
            _drop_table(spark, staged)
    elif spark.catalog.tableExists(table):
        _drop_table(spark, recovering)  # stale leftover of an earlier recovery
    elif spark.catalog.tableExists(recovering):
        # crashed union recovery: __recovering is complete and ⊇ staged
        _swap_in(recovering)
        _drop_table(spark, staged)
    elif spark.catalog.tableExists(staged):
        # crash between the table DROP and the RENAME, no append since:
        # the staged merge is the complete copy — finish the swap.
        _swap_in(staged)
    else:
        return False  # meta is stale but nothing survives — rebuild
    _write_marker(spark, f"{table}_ready")
    record_arc_compact_meta(spark, table)  # fresh growth-policy baseline
    return True


def edge_append_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> str:
    """Materialize (once) the INCREMENTALLY-MAINTAINED co-purchase arc
    table: raw additive arcs ``(src, dst, w)`` bucketed by ``src``,
    built from the base ~86% of orders, then the remaining orders'
    arcs APPENDED as a second bucketed write (``edge_table_append`` —
    Spark appends to bucketed tables under the same spec, so appended
    files land in their src buckets and the scan still reports
    HashPartitioning(src)).

    Unlike the ANN codes table, no model freezing is needed: arc
    weights are ADDITIVE over order-grain batches, so merge-on-read
    (``merged_edge_norm``) is exact — the merged graph is bit-identical
    to a full rebuild, and every from-edges query keeps its
    full-corpus oracle. The groupBy(src, dst) merge and the groupBy(src)
    out-weight both run WITHOUT an exchange: HashPartitioning(src) from
    the bucketed scan satisfies clustering on (src, dst) (src is a
    subset of the keys) — plan-asserted in tests/test_indexes.py."""
    table = f"copurchase_arcs_{_tag(sf_dir)}"

    def build() -> None:
        # leftovers recovery could not use, and a stale growth baseline:
        # recovery trusts the meta only when a complete build wrote it
        for t in (f"{table}__compacting", f"{table}__recovering", _arc_meta_table(table)):
            _drop_table(spark, t)
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        arriving = F.col("l_orderkey") % EDGE_APPEND_MOD == EDGE_APPEND_REM
        _write_pb_bucketed(
            copurchase_edge_arcs(li.filter(~arriving)), table, n_buckets
        )
        # compaction policy OFF for the build's own append: this surface
        # EXISTS to exercise the merge-on-read state (its consumers'
        # plans and the driver oracle verify exactly that), so the demo
        # append must survive uncompacted. The meta baseline recorded
        # below covers the whole built state, so production appends on
        # top of it use the growth policy normally.
        edge_table_append(
            spark, table, li.filter(arriving), n_buckets=n_buckets,
            compact_max_files=None, compact_delta_frac=None,
        )
        # the built state (base + demo append = the FULL corpus) is the
        # canonical baseline a scratch copurchase_edge_table build also
        # produces, so the demo append's touched rows are not "dirt" —
        # clear them or the first incremental renorm rewrites everything
        _clear_touched_log(spark, table)
        record_arc_compact_meta(spark, table)

    build_once(
        spark, f"{table}_ready", [table], build,
        recover=lambda: _recover_crashed_compaction(spark, table, n_buckets=n_buckets),
    )
    return table


def _arc_meta_table(table: str) -> str:
    return f"{table}_compactmeta"


def record_arc_compact_meta(spark: SparkSession, table: str) -> None:
    """Record the arc table's current on-disk byte size as the
    compaction baseline (one-row table — the arc sibling of the *_ready
    marker). The growth policy in edge_table_append compares future
    sizes against it."""
    _, total = layout_stats(spark, _table_location(spark, table))
    meta = _arc_meta_table(table)
    if not spark.catalog.tableExists(meta):
        _sweep_stale_location(spark, meta)  # fresh session, stale warehouse dir
    spark.createDataFrame([(int(total),)], "bytes bigint").coalesce(1).write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(meta)


def arc_compacted_bytes(spark: SparkSession, table: str) -> int | None:
    """Byte size of the arc table at its last compaction (or build), or
    None if never recorded."""
    meta = _arc_meta_table(table)
    if not spark.catalog.tableExists(meta):
        return None
    row = spark.table(meta).first()
    return int(row.bytes) if row is not None else None


def edge_table_append(
    spark: SparkSession,
    table: str,
    new_lineitem: DataFrame,
    n_buckets: int = 16,
    compact_max_files: int | None = 160,
    compact_delta_frac: float | None = 0.2,
) -> None:
    """Incremental edge-table maintenance: compute the ARRIVING orders'
    arcs (one pair-gen over the BATCH, never the corpus) and append
    them into the bucketed arc table under the same bucket spec. The
    per-ingest cost is proportional to the batch; the accumulated
    small files are reclaimed by :func:`compact_arc_table`. The
    batch must be complete orders (the pair-generating unit) — a
    partial order would under-count its pairs; real ingest satisfies
    this by batching on order boundaries.

    NOT replay-idempotent: a blind re-append of the same batch
    double-counts its arcs. Drive retryable ingest through a
    foreachBatch sink with the ``batch=<id>`` overwrite pattern
    (streaming/windows.py) or dedupe batch ids at the orchestrator;
    this function is the one-shot building block.

    Self-compacting, two triggers (either fires compact_arc_table):

    - GROWTH (the one that matters at scale): when the table has grown
      more than ``compact_delta_frac`` beyond the byte size recorded at
      its last compaction (``record_arc_compact_meta``). Merge-on-read
      cost is driven by unmerged ROWS, not file count — at ×100 a ~20%
      append burst of perfectly LARGE files degraded
      pagerank_from_merged_edges 45 s → 175 s, which a small-files
      heuristic can never see. Size-tiered compaction, exactly the
      policy class LSM stores use.
    - SMALL-FILES hygiene: layout.py::should_compact (file count >
      ``compact_max_files`` AND small mean size) for the many-tiny-
      appends regime, and the fallback when no meta baseline exists.
      The default threshold accounts for the pb layout's file-count
      FLOOR: a fully-compacted table already holds one bucket file per
      non-empty pb directory (≤ EDGE_PB_PARTS), so the trigger level is
      floor + a burst's worth, not the raw bucket count.

    Pass None for either to opt out (e.g. when an orchestrator owns
    the compaction schedule, or for demo surfaces that must preserve
    the merge-on-read state)."""
    # Materialize the batch ONCE: the arc write and the touched-pb log
    # must see the SAME rows — re-evaluating a nondeterministic source
    # (sample(), changing files) between the two jobs could dirty a
    # partition the log never hears about, leaving its edges stale with
    # no error.
    # eager: pins the batch before either state write
    batch = new_lineitem.select("l_orderkey", "l_partkey").localCheckpoint(eager=True)
    # Log touched pbs BEFORE appending the arcs: a crash between the
    # two jobs must err toward an extra logged pb (an idempotent
    # partition rewrite) — the reverse order would commit arcs whose
    # partitions the renormalizer then never rewrites (silent stale
    # edges forever). ≤ EDGE_PB_PARTS tiny rows, derived from the
    # batch's part keys (no second pair-gen pass): every src an arc can
    # have IS a part of the batch; a single-part order's part yields no
    # arcs, so its pb row only costs an idempotent rewrite.
    _record_touched(
        spark, table, batch.select(F.col("l_partkey").alias("src"))
    )
    _write_pb_bucketed(copurchase_edge_arcs(batch), table, n_buckets, mode="append")
    _maybe_compact_arcs(spark, table, n_buckets, compact_max_files, compact_delta_frac)


def _maybe_compact_arcs(
    spark: SparkSession,
    table: str,
    n_buckets: int,
    compact_max_files: int | None,
    compact_delta_frac: float | None,
) -> None:
    """Self-compaction policy shared by edge_table_append and
    edge_table_retract (growth + small-files triggers; on fire, compact
    and refresh the pre-normalized edges twin incrementally)."""
    if compact_max_files is None and compact_delta_frac is None:
        return
    loc = _table_location(spark, table)
    trigger = False
    if compact_delta_frac is not None:
        base = arc_compacted_bytes(spark, table)
        if base is not None and base > 0:
            _, total = layout_stats(spark, loc)
            trigger = (total - base) > compact_delta_frac * base
    if not trigger and compact_max_files is not None:
        trigger = should_compact(spark, loc, max_files=compact_max_files)
    if trigger:
        compact_arc_table(spark, table, n_buckets=n_buckets)
        # Close the maintenance loop: if this arc table has a materialized
        # pre-normalized edges twin, refresh it from the compacted arcs so
        # the from-edges consumers return to their amortized cost without a
        # separate scheduler step (the ×100 loop: merge-on-read 173 s →
        # compact alone 144 s → refreshed from-edges 34 s). Name-derived
        # twin: only fires for the copurchase arc/edges convention. The
        # refresh is the TOUCHED-PARTITION incremental path (round-8
        # verdict item 5) — cost ∝ the burst's pb footprint, falling back
        # to a full rebuild when no touched log exists.
        twin = table.replace("copurchase_arcs", "copurchase_edges")
        if twin != table and spark.catalog.tableExists(twin):
            _renorm_incremental_tables(spark, table, twin, n_buckets)


def edge_table_retract(
    spark: SparkSession,
    table: str,
    deleted_lineitem: DataFrame,
    n_buckets: int = 16,
    compact_max_files: int | None = 160,
    compact_delta_frac: float | None = 0.2,
) -> None:
    """Retract DELETED orders' contributions from the bucketed arc
    table — deletion at the same O(batch) cost as ingest, because the
    arc table is ADDITIVE: compute the deleted orders' arcs with the
    identical pair-gen and append them with NEGATED weights. The
    merge-on-read views sum to exactly the rebuild-on-surviving-orders
    weights, and their strictly-positive filter makes fully-retracted
    pairs VANISH (an edge must disappear from BFS/k-core connectivity,
    not linger at weight 0); compaction physically reclaims the
    negative partials. Bit-identity vs a scratch build on the surviving
    lineitem is pytest-asserted, including through compaction and the
    incremental edges refresh (where a fully-emptied pb partition is
    dropped explicitly).

    Same contracts as edge_table_append: complete orders only (the
    pair-generating unit — retracting a partial order would
    under-subtract), NOT replay-idempotent (a re-retraction
    double-subtracts; drive retryable deletion through a batch=<id>
    sink or orchestrator dedupe), touched-pb logging BEFORE the write,
    and the shared self-compaction policy. Over-retraction (deleting an
    order that was never ingested) is a caller error: the positive
    filter hides the negative residue from consumers, so pair it with a
    dq_constraints-style audit if the deletion feed is untrusted."""
    # eager: pins the batch before either state write
    batch = deleted_lineitem.select("l_orderkey", "l_partkey").localCheckpoint(
        eager=True
    )
    _record_touched(spark, table, batch.select(F.col("l_partkey").alias("src")))
    neg = copurchase_edge_arcs(batch).withColumn(
        "w", (-F.col("w")).cast("long")
    )
    _write_pb_bucketed(neg, table, n_buckets, mode="append")
    _maybe_compact_arcs(spark, table, n_buckets, compact_max_files, compact_delta_frac)


def compact_arc_table(
    spark: SparkSession, table: str, n_buckets: int = 16
) -> tuple[int, int]:
    """Compaction for the BUCKETED additive arc table — the graph
    sibling of hist_compact: re-sum the appended per-batch arc partials
    into one row per (src, dst) and rewrite the table under the SAME
    bucket spec (plans/layout.py::compact_table would rewrite a
    partitionBy layout and destroy the bucketing the from-edges
    iteration contract depends on). ``merged_edge_norm`` is identical
    before and after (the merge is associative — asserted in tests) and
    its per-query (src, dst) aggregate becomes a near-no-op afterwards:
    this IS the periodic re-normalization that restores the amortized
    query path after an append burst (×100: merge-on-read 175 s vs
    45 s pre-merged). Quiesced-table caveat as everywhere. Returns
    ``(files_before, files_after)``."""
    loc = _table_location(spark, table)
    before = _data_files(spark, loc)
    # Stage-and-swap, NOT read-checkpoint-overwrite: an eager
    # localCheckpoint of the merged arcs pins every row as deserialized
    # RDD blocks in the driver/executor heap — measured OOM at the ×100
    # corpus (round 8) — and in-place overwrite destroys the only copy if
    # the write dies. Writing the merge to a sibling table streams it
    # executor-side (bounded memory at any scale) and keeps the original
    # intact until the swap.
    merged = (
        spark.table(table)
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
        # drop fully-retracted pairs (see merged_edge_norm): compaction
        # is where a retraction's negative partials physically disappear
        .filter(F.col("w") > 0)
    )
    staged = f"{table}__compacting"
    _drop_table(spark, staged)
    _write_pb_bucketed(merged, staged, n_buckets)
    # The swap is not crash-atomic: if it dies between DROP and RENAME the
    # table is missing while the *_ready marker would still latch it as
    # complete for the rest of the session. Drop the marker FIRST and
    # rewrite it only after the swap succeeds, so a failed compaction
    # routes the next edge_append_tables call into
    # _recover_crashed_compaction, which finishes the swap from the
    # complete merge at <table>__compacting (or re-latches the already-
    # swapped table) instead of rebuilding and discarding appended arcs.
    marker = f"{table}_ready"
    had_marker = spark.catalog.tableExists(marker)
    if had_marker:
        spark.sql(f"DROP TABLE IF EXISTS {marker}")
    _drop_table(spark, table)
    spark.sql(f"ALTER TABLE {staged} RENAME TO {table}")
    # renaming a PARTITIONED managed table keeps each partition's
    # ABSOLUTE location pointing at the old path — repair or the
    # renamed table reads empty
    spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
    # Marker FIRST, meta second: once the swap succeeded the table is
    # fully healthy, so re-latch it before any non-essential write — a
    # failure in the meta write must not leave a healthy compacted table
    # unlatched (the rebuild path would DROP it and silently discard
    # every production-appended arc). A stale meta merely makes the next
    # append re-trigger compaction; a lost marker loses data.
    if had_marker:
        _write_marker(spark, marker)
    record_arc_compact_meta(spark, table)  # new growth-policy baseline
    return before, _data_files(spark, _table_location(spark, table))


def merged_edge_norm(spark: SparkSession, table: str) -> DataFrame:
    """Merge-on-read of the appended arc table: per-(src, dst) weight
    sums + recomputed out-weights, both exchange-free on the bucketed
    scan's HashPartitioning(src). Returns the pre-normalized
    ``(src, dst, w, ow)`` frame every from-edges operator consumes."""
    arcs = spark.table(table)
    merged = (
        arcs.groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
        # retraction appends NEGATIVE arcs (edge_table_retract): a fully
        # retracted pair sums to 0 and must VANISH — a 0-weight edge
        # contributes nothing to rank sums but would poison BFS/k-core
        # CONNECTIVITY. Strictly-positive is the merge-on-read contract.
        .filter(F.col("w") > 0)
    )
    outw = merged.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    # SHUFFLE_HASH pin: the out-weight side is O(|V|) — same inverted
    # contract as broadcasting the rank vector — and BOTH sides already
    # carry HashPartitioning(src) from the bucketed scan, so the SHJ
    # plans with zero exchange on either side (plan-asserted).
    return merged.join(outw.hint("shuffle_hash"), "src").select("src", "dst", "w", "ow")


def ivfpq_index_tables(
    spark: SparkSession,
    sf_dir: str,
    k_coarse: int = 8,
    km_iters: int = 2,
    m: int = 8,
    k: int = 16,
) -> dict[str, str]:
    """Materialize (once) the persisted IVF-PQ index over the
    embeddings table; returns the table names
    ``{"centroids", "codebook", "codes"}``.

    The codes table is the long-form ``(vec_id, sub, code)`` encode
    (operators/pq.py::pq_encode) joined with the coarse assignment and
    PARTITIONED by ``cluster`` — the query path filters on a literal
    cluster id, so the scan prunes to that partition's files before a
    single row is read."""
    p = f"ivfpq_{_tag(sf_dir)}"
    names = _ivfpq_names(p)
    build_once(
        spark, f"{p}_ready", names.values(),
        lambda: _build_ivfpq(
            spark, load_table(spark, sf_dir, "embeddings"), names, k_coarse, km_iters, m, k
        ),
    )
    return names


def _ivfpq_names(prefix: str) -> dict[str, str]:
    return {t: f"{prefix}_{t}" for t in ("centroids", "codebook", "codes")}


def _build_ivfpq(
    spark: SparkSession,
    emb: DataFrame,
    names: dict[str, str],
    k_coarse: int,
    km_iters: int,
    m: int,
    k: int,
) -> None:
    """Train the coarse centroids + PQ codebook on ``emb`` and encode
    ``emb`` against them into the three index tables. Training and
    encoding corpus coincide at build time; later arrivals are encoded
    against the then-FROZEN model by :func:`ann_index_append`."""
    from is3107datapipelineproject_spark.operators.clustering import (
        assign_to_centroids,
        kmeans_fit,
    )
    from is3107datapipelineproject_spark.operators.pq import pq_codebook, pq_encode

    cents = kmeans_fit(emb, "vec_id", "embedding", k=k_coarse, iters=km_iters)
    cents.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(
        names["centroids"]
    )
    cb = pq_codebook(emb, "vec_id", "embedding", m, k)
    cb.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(
        names["codebook"]
    )
    asg = assign_to_centroids(emb, "vec_id", "embedding", spark.table(names["centroids"]))
    codes = pq_encode(emb, "vec_id", "embedding", m=m, k=k, codebook=cb)
    (
        codes.join(asg.select("vec_id", "cluster"), "vec_id")
        .repartition("cluster")
        .write.mode("overwrite")
        .format("parquet")
        .partitionBy("cluster")
        .saveAsTable(names["codes"])
    )


def ann_index_append(
    spark: SparkSession,
    names: dict[str, str],
    batch: DataFrame,
    m: int = 8,
    k: int = 16,
    compact_max_files: int | None = 64,
) -> None:
    """Incremental ANN-index maintenance: encode an arrival batch
    against the FROZEN stored centroids + codebook and APPEND the
    resulting codes to the cluster-partitioned codes table — the
    every-ingest path a deployed index runs instead of retraining.

    The model is deliberately frozen (the prefix_ingest_sink lesson,
    re-applied to vectors): re-running k-means over the grown corpus
    would move the centroids and silently re-route every PREVIOUSLY
    stored code — the appended state would depend on ingest batching.
    With a frozen model the index state is a pure per-row function of
    the corpus: appending in any batch split produces bit-identical
    tables to a one-shot encode of the union (asserted in
    tests/test_indexes.py), and ``ivfpq_topk_from_index`` needs no
    changes. Retraining is a NEW index version — rebuild via
    :func:`_build_ivfpq`, exactly as a production ANN service rolls
    model versions.

    NOT replay-idempotent: re-appending the same batch duplicates its
    codes. Retryable ingest goes through
    streaming/windows.py::ann_ingest_sink (per-batch overwrite), or the
    orchestrator dedupes batch ids; this is the one-shot building
    block.

    Self-compacting like edge_table_append: after the append, the
    layout.py::should_compact policy probe decides whether to rewrite
    the codes table (compact_table, keeping the ``cluster`` partition
    layout the query path prunes on). Codes are a pure per-row function
    of the corpus under the frozen model, so compaction is
    result-invariant by construction."""
    from is3107datapipelineproject_spark.operators.clustering import assign_to_centroids
    from is3107datapipelineproject_spark.operators.pq import pq_encode

    cents = spark.table(names["centroids"])
    cb = spark.table(names["codebook"])
    asg = assign_to_centroids(batch, "vec_id", "embedding", cents)
    codes = pq_encode(batch, "vec_id", "embedding", m=m, k=k, codebook=cb)
    (
        codes.join(asg.select("vec_id", "cluster"), "vec_id")
        .repartition("cluster")
        .write.mode("append")
        .format("parquet")
        .partitionBy("cluster")
        .saveAsTable(names["codes"])
    )
    if compact_max_files is not None:
        if should_compact(
            spark, _table_location(spark, names["codes"]), max_files=compact_max_files
        ):
            compact_table(spark, names["codes"], partition_cols=("cluster",))


def ann_index_delete(
    spark: SparkSession, names: dict[str, str], deleted: DataFrame
) -> int:
    """Right-to-be-forgotten deletion from the persisted ANN index —
    the purge counterpart of :func:`ann_index_append`, completing the
    index lifecycle (build → append/stream → compact → delete). Removes
    the given ``vec_id`` rows from the cluster-partitioned codes table
    by rewriting ONLY the affected cluster partitions.

    Works from ids ALONE: the purged vectors may no longer exist (the
    point of a purge), so affected clusters come from one narrow
    2-column scan of the codes table (vec_id, cluster — the same
    honest scan floor as the dedup-state purge; callers that still
    hold the vectors could route them through the frozen centroids and
    skip it, but purge-time that is exactly what cannot be assumed).
    The affected cluster values collect to the driver (a probe-sized
    list — clusters number k, not corpus) and gate everything else:

    - the rewrite READS only those partitions (``cluster IN (...)``
      planning-time partition pruning) and dynamic-partition-OVERWRITES
      only the ones with surviving rows;
    - clusters left EMPTY by the purge are dropped explicitly (dynamic
      overwrite cannot write an empty partition, and leaving the stale
      directory would resurrect every code in it).

    Deletion is a pure row filter under the frozen model (no code
    depends on any other row), so the surviving table is bit-identical
    to a one-shot encode of the surviving corpus — asserted in tests.
    NOT replay-idempotent in the ann_index_append sense: it is
    idempotent outright (re-deleting removes nothing). Returns the
    number of affected cluster partitions.
    """
    codes = spark.table(names["codes"])
    dset = deleted.select(F.col("vec_id").alias("dvid")).distinct()
    aff = sorted(
        r.cluster
        for r in codes.join(F.broadcast(dset), codes.vec_id == F.col("dvid"), "inner")
        .select("cluster")
        .distinct()
        .collect()
    )
    if not aff:
        return 0
    touched = codes.filter(F.col("cluster").isin(aff))
    remaining = touched.join(
        F.broadcast(dset), touched.vec_id == F.col("dvid"), "left_anti"
    )
    nonempty = {
        r.cluster for r in remaining.select("cluster").distinct().collect()
    }
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if nonempty:
            (
                remaining.repartition("cluster")
                .write.mode("overwrite")
                .insertInto(names["codes"])
            )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    for c in aff:
        if c not in nonempty:
            spark.sql(
                f"ALTER TABLE {names['codes']} DROP IF EXISTS PARTITION (cluster={int(c)})"
            )
    return len(aff)


# Arrival split for the append demo surfaces: every 5th vector (by key
# modulo — deterministic and SQL-mirrorable) "arrives" after the index
# was built on the other 80%.
ANN_APPEND_MOD = 5
ANN_APPEND_REM = 3


def ann_appended_index_tables(
    spark: SparkSession,
    sf_dir: str,
    k_coarse: int = 8,
    km_iters: int = 2,
    m: int = 8,
    k: int = 16,
) -> dict[str, str]:
    """Materialize (once) the INCREMENTALLY-MAINTAINED IVF-PQ index:
    built over the base 80% of the embeddings (vec_id % 5 != 3), then
    the remaining 20% appended via :func:`ann_index_append` against the
    frozen model — the persisted outcome of an ingest cycle. Table
    prefix ``ivfpqa_`` keeps it distinct from the one-shot
    :func:`ivfpq_index_tables`; the model parameters are part of the
    name, so callers with different (k_coarse, iters, m, k) can never
    silently share one cached index."""
    p = f"ivfpqa_{_tag(sf_dir)}_c{k_coarse}i{km_iters}m{m}k{k}"
    names = _ivfpq_names(p)
    build_once(
        spark, f"{p}_ready", names.values(),
        lambda: _build_appended_ivfpq(spark, sf_dir, names, k_coarse, km_iters, m, k),
    )
    return names


def _build_appended_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    names: dict[str, str],
    k_coarse: int,
    km_iters: int,
    m: int,
    k: int,
) -> DataFrame:
    """Build on the base 80% of the embeddings, append the arriving 20%
    against the frozen model; returns the embeddings frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    arrivals_pred = F.col("vec_id") % ANN_APPEND_MOD == ANN_APPEND_REM
    _build_ivfpq(spark, emb.filter(~arrivals_pred), names, k_coarse, km_iters, m, k)
    ann_index_append(spark, names, emb.filter(arrivals_pred), m=m, k=k)
    return emb


def cluster_label_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the PERSISTED near-dup cluster label table —
    the state cluster_ingest_sink maintains in production, built here
    through the INCREMENTAL path so reading it also certifies that
    path: one-shot labels over the base 80% of documents
    (doc_id % 5 != 0), then the remaining 20% folded in by
    operators/dedup.py::incremental_cluster_update (new×old edges from
    the incremental MinHash tier + batch-local new×new pairs). By the
    contraction theorem the result equals the one-shot over the full
    corpus, which is exactly what the from-state query's full-closure
    oracle checks."""
    from is3107datapipelineproject_spark.operators.dedup import (
        incremental_cluster_update,
        incremental_neardup,
        minhash_neardup_pairs,
        neardup_clusters,
    )

    table = f"neardup_labels_{_tag(sf_dir)}"

    def build() -> None:
        docs = load_table(spark, sf_dir, "documents")
        new = docs.filter(F.col("doc_id") % 5 == 0)
        old = docs.filter(F.col("doc_id") % 5 != 0)
        old_labels = neardup_clusters(
            old, minhash_neardup_pairs(old, "text", "doc_id", threshold=0.8), "doc_id"
        )
        nx_old = incremental_neardup(old, new, "text", "doc_id", threshold=0.8).select(
            F.col("new_id").alias("doc1"), F.col("old_id").alias("doc2")
        )
        nx_new = minhash_neardup_pairs(new, "text", "doc_id", threshold=0.8).select(
            "doc1", "doc2"
        )
        labels = incremental_cluster_update(
            old_labels, new.select("doc_id"), nx_old.unionByName(nx_new), "doc_id"
        )
        labels.write.mode("overwrite").format("parquet").saveAsTable(table)

    build_once(spark, f"{table}_ready", [table], build)
    return table


def band_signature_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the PERSISTED LSH band/signature table over
    documents — the ``sig_dir`` state
    cluster_ingest_sink maintains in production, including the packed
    minhash ``sig`` column so hot-band re-derivation keeps the
    sub-banding tier (operators/dedup.py::pairs_from_band_table). This
    is what lets a retraction re-derive affected clusters' pairs from
    STORED signatures: the corpus text was hashed once at ingest and
    never needs re-reading — it may not even exist anymore, which is
    the point of a right-to-be-forgotten purge."""
    from is3107datapipelineproject_spark.operators.dedup import band_signature_frame

    table = f"neardup_bands_{_tag(sf_dir)}"
    build_once(
        spark, f"{table}_ready", [table],
        lambda: band_signature_frame(
            load_table(spark, sf_dir, "documents"), "text", "doc_id", with_sig=True
        ).write.mode("overwrite").format("parquet").saveAsTable(table),
    )
    return table


# Purge split for the delete demo surface: vectors with
# vec_id % 11 == 7 are "forgotten" after the build+append cycle.
ANN_DELETE_MOD = 11
ANN_DELETE_REM = 7


def ann_deleted_index_tables(
    spark: SparkSession,
    sf_dir: str,
    k_coarse: int = 8,
    km_iters: int = 2,
    m: int = 8,
    k: int = 16,
) -> dict[str, str]:
    """Materialize (once) the full index LIFECYCLE outcome: build on the
    base 80%, append the arriving 20% against the frozen model, then
    PURGE the ``vec_id % 11 == 7`` slice via :func:`ann_index_delete` —
    the persisted state after an ingest cycle plus a
    right-to-be-forgotten request. Prefix ``ivfpqd_`` keeps it isolated
    from the append-only ``ivfpqa_`` tables other queries share (a
    registered query must never mutate a sibling's canonical state)."""
    p = f"ivfpqd_{_tag(sf_dir)}_c{k_coarse}i{km_iters}m{m}k{k}"
    names = _ivfpq_names(p)

    def build() -> None:
        emb = _build_appended_ivfpq(spark, sf_dir, names, k_coarse, km_iters, m, k)
        purged = emb.filter(F.col("vec_id") % ANN_DELETE_MOD == ANN_DELETE_REM)
        ann_index_delete(spark, names, purged.select("vec_id"))

    build_once(spark, f"{p}_ready", names.values(), build)
    return names


def fact_bucket_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> dict[str, str]:
    """Materialize (once) the co-bucketed fact-table pair: ``orders``
    bucketed by ``o_orderkey`` and ``lineitem`` bucketed by
    ``l_orderkey``, SAME bucket count — the ingest-time layout that
    deletes the dominant exchange from every orders⋈lineitem join. Both
    scans report Murmur3 HashPartitioning(orderkey, n) and Spark's
    EnsureRequirements recognizes the two specs as co-partitioned for
    an equi-join on the two keys, so the sort-merge join plans with NO
    Exchange on either side (asserted by
    tests/test_indexes.py::test_bucketed_fact_join_plan). At 100 TB the
    one-time bucketed rewrite is amortized across every subsequent
    order-grain join, aggregate (partial-agg on the bucket key), and
    point lookup (bucket pruning); buckets are single-file and
    key-sorted (plans/layout.py::write_bucketed) for row-group
    skipping."""
    names = {
        "orders": f"orders_bkt_{_tag(sf_dir)}",
        "lineitem": f"lineitem_bkt_{_tag(sf_dir)}",
    }
    specs = {"orders": "o_orderkey", "lineitem": "l_orderkey"}

    def build() -> None:
        for t, key in specs.items():
            write_bucketed(load_table(spark, sf_dir, t), names[t], key, n_buckets=n_buckets)

    build_once(spark, f"{names['orders']}_ready", names.values(), build)
    return names


def _morton_spread16(c: Column) -> Column:
    """Spread a 16-bit value's bits to the even positions of a 32-bit
    lane (classic magic-number dilation), on BIGINT lanes so the top
    interleaved bit never touches a sign bit."""
    c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF))
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x33333333))
    c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x55555555))
    return c


def morton_z16(a: Column, b: Column) -> Column:
    """Interleave two 16-bit BIGINT columns into their Morton z-value —
    pure shift/mask codegen, no UDF."""
    return _morton_spread16(a).bitwiseOR(F.shiftleft(_morton_spread16(b), 1))


def zorder_events_table(
    spark: SparkSession, sf_dir: str, n_ranges: int = 32
) -> DataFrame:
    """Materialize (once) the events table Z-ORDERED on
    (user_id, event day): both dimensions are min-max scaled to 16 bits,
    bit-interleaved into a Morton z-value (shift/mask codegen — no
    UDF), then range-partitioned AND sorted by it. Because the z-curve
    is locality-preserving in BOTH dimensions at once, every parquet
    row group ends up with TIGHT min/max statistics on user_id and ts
    simultaneously — so a box predicate (user range AND time range)
    skips row groups on both dimensions, where a single-column sort
    gives tight stats on one dimension and useless full-range stats on
    the other. This is the multi-dimensional data-skipping layout
    (Delta/Iceberg OPTIMIZE ZORDER) that makes needle-in-100-TB box
    queries scan-bound on the needle, not the haystack; measured
    row-group overlap vs a time-sorted layout is asserted in
    tests/test_indexes.py::test_zorder_layout_prunes_boxes."""
    table = f"events_z_{_tag(sf_dir)}"

    def build() -> None:
        e = load_table(spark, sf_dir, "events").withColumn(
            "__day", F.unix_date(F.to_date("ts")).cast("long")
        )
        b = e.agg(
            F.min("user_id").alias("u0"), F.max("user_id").alias("u1"),
            F.min("__day").alias("d0"), F.max("__day").alias("d1"),
        )
        z = e.crossJoin(F.broadcast(b)).select(
            "event_id", "ts", "user_id", "event_type", "value", "props",
            morton_z16(
                F.floor(
                    (F.col("user_id") - F.col("u0")) * 65535
                    / F.greatest(F.col("u1") - F.col("u0"), F.lit(1))
                ).cast("long"),
                F.floor(
                    (F.col("__day") - F.col("d0")) * 65535
                    / F.greatest(F.col("d1") - F.col("d0"), F.lit(1))
                ).cast("long"),
            ).alias("zval"),
        )
        # Spark's default INT96 timestamps carry NO parquet min/max
        # statistics — which would silently disable the ts half of the
        # row-group skipping this layout exists for. Write int64 micros
        # (the modern type every lakehouse writer uses).
        old_tt = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            (
                z.repartitionByRange(n_ranges, "zval")
                .sortWithinPartitions("zval")
                .write.mode("overwrite")
                .format("parquet")
                .saveAsTable(table)
            )
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", old_tt)

    build_once(spark, f"{table}_ready", [table], build)
    return spark.table(table)


def orders_year_partitioned(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Materialize (once) the year-PARTITIONED orders fact plus a tiny
    ``(o_year, era)`` dimension — the layout pair that exercises
    Spark's dynamic partition pruning: a query that joins the fact to
    the dim under a dim-side predicate never names the years, yet the
    fact scan receives a ``dynamicpruning`` PartitionFilter built from
    the dim join keys at runtime (via the reused broadcast exchange),
    so only the matching year directories are ever listed/read. At
    100 TB with hundreds of date partitions this is the difference
    between scanning the whole fact and scanning the era — and it
    requires zero query-side knowledge of the partition values, unlike
    a literal IN-list. Partition column values are derived
    (year(o_orderdate)) so the rewrite loses no rows — the from-layout
    query keeps the raw-parquet oracle."""
    names = {
        "orders": f"orders_byyear_{_tag(sf_dir)}",
        "years": f"years_dim_{_tag(sf_dir)}",
    }

    def build() -> None:
        o = load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate").cast("int")
        )
        (
            o.repartition("o_year")
            .write.mode("overwrite")
            .format("parquet")
            .partitionBy("o_year")
            .saveAsTable(names["orders"])
        )
        years = o.select("o_year").distinct().select(
            "o_year",
            F.when(F.col("o_year") >= 1996, F.lit("modern"))
            .otherwise(F.lit("early"))
            .alias("era"),
        )
        years.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(
            names["years"]
        )

    build_once(spark, f"{names['orders']}_ready", names.values(), build)
    return names
