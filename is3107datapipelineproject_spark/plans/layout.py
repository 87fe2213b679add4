"""Physical layout + write paths (SURVEY S7-S10, O1/O2).

The reference's storage design is Cassandra query-first tables: partition
key ``(year, category)``, clustering ``paper_key ASC`` (docx §CQL DDL;
`IS310-7 project diagrams.png`). The engine's equivalent is partitioned
parquet with in-partition sort:

- ``partitionBy("year", "category")``  → directory-level partition
  PRUNING for the interactive point lookups (O1): a
  ``year=2020 AND category='con'`` query reads ONE directory of a
  100 TB table;
- ``sortWithinPartitions("paper_key")`` → clustering order (O2), giving
  parquet min/max row-group skipping on the key;
- one ``repartition(partition cols)`` before the write so each physical
  partition directory is produced by few tasks (bounded small files —
  the classic partitionBy-without-repartition bug writes
  #tasks × #partitions files).

Delete-by-key (S9, `main_dag.py:372-379`) and insert-only upsert (ST4)
are expressed as anti-join rewrites — the plain-parquet analogue of a
Delta MERGE. At cluster scale with a table format (Delta/Iceberg) these
become declarative MERGE INTO; semantics here are identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("year", "category"),
    sort_cols: Sequence[str] = ("paper_key",),
    mode: str = "overwrite",
) -> None:
    """The query-first table sink (S8 analogue): partition-pruned layout
    + clustered in-partition order.

    The in-partition sort MUST lead with the partition columns: the file
    writer requires rows ordered by partition values and re-sorts by
    them (alone, unstably) if they aren't — which would destroy the
    clustering order. Leading with them satisfies the writer's required
    ordering, so the trailing ``sort_cols`` order survives into each
    file (verified by test_partitioned_write_prunes_and_clusters)."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .sortWithinPartitions(*partition_cols, *sort_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def overwrite_touched_partitions(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("year", "category"),
    sort_cols: Sequence[str] = ("paper_key",),
) -> None:
    """Incremental rewrite of a write_partitioned table (SURVEY §4 O1):
    replace ONLY the ``(year, category)`` directories present in ``df``,
    leaving every other partition's files untouched.

    Plain ``mode("overwrite")`` truncates the whole path first — at
    100 TB that is rewriting the table to update a week. The dynamic
    partition-overwrite mode scopes the delete to partitions the job
    actually emits; it is set as a per-write DataFrameWriter option
    (``partitionOverwriteMode=dynamic``) rather than the session conf
    ``spark.sql.sources.partitionOverwriteMode``, so it holds under any
    caller's session (the external driver hands us a plain one) and
    cannot leak into unrelated writes.

    Same repartition + partition-leading sort contract as
    write_partitioned, so rewritten partitions keep the clustered
    layout. Verified by test_dynamic_overwrite_touches_only_changed.
    """
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .sortWithinPartitions(*partition_cols, *sort_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed table sink: hash-partition rows into ``n_buckets`` files
    by ``key`` and (optionally) sort each bucket by it. Two tables
    bucketed on the same key with the same bucket count join with NO
    shuffle — the co-located join the task's scale story needs: at
    100 TB, bucketing the fact tables on the join key once at ingest
    removes the dominant exchange from every subsequent join (verified
    plan-level by test_bucketed_join_is_shuffle_free). A bucket-local
    Sort remains in the join plan — Spark 4 removed the sorted-scan
    output-ordering guarantee (pre-4.0 legacy conf
    ``bucketedTableScanOutputOrdering``) — but it sorts one bucket in
    memory, spill-free, unlike the cluster-wide shuffle it replaces;
    ``sortBy`` still buys parquet min/max row-group skipping on the
    key.

    Bucketed layout requires the table catalog (file listings carry no
    bucket metadata), hence saveAsTable rather than a path write.

    The pre-write ``repartition(n_buckets, key)`` matters: it yields ONE
    file per bucket (repartition and bucketBy share the Murmur3-pmod
    placement), and the scan's sorted-output guarantee — what lets the
    join skip its Sort — only holds for single-file buckets."""
    w = df.repartition(n_buckets, F.col(key)).write.mode(mode).bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.format("parquet").saveAsTable(table)


def write_sharded(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    mode: str = "overwrite",
) -> None:
    """Corpus-export sink: content-hashed shard directories
    (``shard_id=K/``), the physical half of
    operators.sampling.shard_assignments. One shuffle keyed by shard_id
    — md5-uniform by construction, so shards are balanced and no export
    task straggles — and one file per shard directory (each directory
    is produced by exactly the tasks of its shard). Re-running the
    export reproduces byte-identical shard membership (content hash,
    not partition RNG), so downstream consumers of shard K can cache by
    shard."""
    from is3107datapipelineproject_spark.operators.sampling import shard_assignments

    (
        shard_assignments(df, id_col, n_shards)
        .repartition(n_shards, F.col("shard_id"))
        .sortWithinPartitions("shard_id", id_col)
        .write.mode(mode)
        .partitionBy("shard_id")
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Scan the partitioned table; partition-column predicates prune at
    planning time (assert via PartitionFilters in the explain output)."""
    return spark.read.parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """Resolve ``path`` and its Hadoop FileSystem through the session's
    configuration (works for any scheme the session can reach) — the
    one place the jvm Path/getFileSystem incantation lives."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())


def _data_files(spark: SparkSession, path: str) -> int:
    """Count data files under ``path`` (recursive), skipping
    _SUCCESS/metadata."""
    p, fs = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return 0
    it = fs.listFiles(p, True)
    n = 0
    while it.hasNext():
        f = it.next().getPath().getName()
        if not f.startswith("_") and not f.startswith("."):
            n += 1
    return n


def _sweep_stale_location(spark: SparkSession, table: str) -> None:
    """A NEW session's in-memory catalog is empty, but the warehouse
    directory of a previous session's managed table survives on disk —
    and saveAsTable refuses to CREATE over a non-empty location
    (LOCATION_ALREADY_EXISTS). Remove the table's default-database
    location so the next write is a clean create."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    p, fs = _hadoop_fs(spark, f"{wh}/{table.lower()}")
    if fs.exists(p):
        fs.delete(p, True)


def _drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _sweep_stale_location(spark, table)


def _table_location(spark: SparkSession, table: str) -> str:
    rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    for r in rows:
        if r.col_name.strip() == "Location":
            return r.data_type.strip()
    raise ValueError(f"no location for table {table}")


def layout_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(data_file_count, total_data_bytes) under ``path``, recursive,
    skipping _SUCCESS/metadata — the two numbers a compaction policy
    needs, read from directory listings only (no data scan)."""
    p, fs = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return 0, 0
    it = fs.listFiles(p, True)
    n, total = 0, 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
            total += st.getLen()
    return n, total


def should_compact(
    spark: SparkSession,
    path: str,
    max_files: int = 64,
    min_avg_bytes: int = 8 << 20,
) -> bool:
    """Compaction POLICY probe — decides WHEN the compaction mechanisms
    (compact_table / compact_arc_table / compact_stream_dir) should run,
    so append builders can self-trigger instead of relying on an
    operator remembering (merge-on-read after an append burst measured
    175 s vs 45 s compacted at ×100 — SCALING part 18).

    Fires when BOTH hold over ``path``'s data files:
    - more than ``max_files`` files (merge-on-read cost grows with file
      count: footer reads, scan tasks, and the per-file open dominate), and
    - mean file size below ``min_avg_bytes`` (a healthy big table
      legitimately has many LARGE files; only many small files are
      append-burst debris worth rewriting).

    Listing-only: O(files) namenode metadata, no data read — cheap
    enough to run after every append."""
    n, total = layout_stats(spark, path)
    return n > max_files and (total / n) < min_avg_bytes


def compact_table(
    spark: SparkSession, table: str, partition_cols: Sequence[str]
) -> tuple[int, int]:
    """Layout maintenance for the build-once + append-many catalog
    tables (the IVF-PQ codes table under ann_index_append, any
    partitioned sink that accretes small files): rewrite the table so
    each partition directory collapses back to few files, preserving
    the partition layout — contents are asserted bit-identical pre/post
    (tests), exactly the hist_compact contract generalized. Returns
    ``(files_before, files_after)``.

    Like hist_compact, run against a quiesced table: the swap is not
    transactional against a concurrent appender (a lakehouse table
    format turns this into OPTIMIZE/rewrite-files with snapshot
    isolation — identical semantics, safe concurrency). Stage-and-swap,
    NOT checkpoint-then-overwrite: an eager localCheckpoint pins the
    whole table as deserialized heap blocks (the ×100 arc-compaction
    OOM) and an in-place overwrite destroys the only copy if the write
    dies — the rewrite streams to a sibling table and swaps via catalog
    RENAME, so the original survives every crash point (a failure
    leaves the complete rewrite at ``<table>__compacting``). At 100 TB
    compaction runs per-partition on the partitions an ingest actually
    touched, not the whole table."""
    loc = _table_location(spark, table)
    before = _data_files(spark, loc)
    staged = f"{table}__compacting"
    _drop_table(spark, staged)
    (
        spark.table(table)
        .repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .format("parquet")
        .partitionBy(*partition_cols)
        .saveAsTable(staged)
    )
    _drop_table(spark, table)
    spark.sql(f"ALTER TABLE {staged} RENAME TO {table}")
    if partition_cols:
        # RENAME moves the root directory but the catalog keeps each
        # PARTITION's absolute location pointing at the old staged path —
        # the renamed table reads empty until the partition metadata is
        # re-derived from the moved directory.
        spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
    return before, _data_files(spark, _table_location(spark, table))


def committed_stream_batches(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    """Batch ids the streaming checkpoint has COMMITTED (the
    ``commits/<id>`` files Structured Streaming writes after a
    micro-batch's sink work is durable). A batch partition on disk
    whose id is absent here may be REPLAYED on stream restart."""
    p, fs = _hadoop_fs(spark, f"{checkpoint_dir}/commits")
    if not fs.exists(p):
        return set()
    out: set[int] = set()
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.isdigit():
            out.add(int(name))
    return out


def _max_batch_id(spark: SparkSession, path: str) -> int:
    """Max committed batch id of a ``batch=<id>`` stream-state dir, from
    the PARTITION DIRECTORY NAMES — not ``max('batch')`` over the rows:
    a fully-purged dir holds one empty file under its last batch
    partition, where the row-max is NULL and an ``or 0`` fallback would
    silently re-home the state to batch 0 AND make the commit-log gate
    validate batch 0 (long pruned from the checkpoint's commits),
    wedging every later compaction."""
    p, fs = _hadoop_fs(spark, path)
    best = 0
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("batch="):
            try:
                best = max(best, int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return best


# ---------------------------------------------------------------------------
# Streaming state-dir protocol. Every foreachBatch sink in
# streaming/windows.py keeps its state as ``<dir>/batch=<id>`` partitions
# and touches it only through read_earlier / write_batch; every
# maintenance path (compaction, purge, the edit keys rebuild) rewrites a
# dir only through _swap_rewrite → swap_in → staged_swap.


def read_earlier(
    spark: SparkSession,
    batch_id: int,
    dirs: Sequence[str],
    owned: Sequence[str] = (),
) -> list[DataFrame] | None:
    """A sink's state read: each of ``dirs`` filtered to batch ids
    strictly below ``batch_id``, ``batch`` column dropped — or None on a
    cold start. This is the one statement of the sinks' contract:

    - **Retry-safe.** foreachBatch is at-least-once. Each batch writes
      every output into its own ``batch=<id>`` partition with OVERWRITE
      semantics (:func:`write_batch`), and reads only strictly EARLIER
      batches — so a replayed batch rewrites its own files instead of
      appending duplicates, and never sees its own partial output as
      corpus.
    - **Cold start.** While a state dir cannot be read yet (no batch has
      written it), the batch IS the corpus and this returns None — but
      only after every dir in ``dirs`` and ``owned`` (the sink's
      write-only dirs) passed :func:`assert_stream_dir_healthy`.
    - **Crash.** A missing dir next to a ``.compact_old`` /
      ``.compact_tmp`` sibling is a crashed rewrite, not a cold start:
      the cold-start check above and every :func:`write_batch` raise on
      it. Writing the batch into a fresh primary instead would make the
      next rewrite's recovery see both copies and reclaim (delete) the
      aside — the stranded state would be lost."""
    try:
        return [spark.read.parquet(d).filter(F.col("batch") < batch_id).drop("batch") for d in dirs]
    except AnalysisException:
        for d in (*dirs, *owned):
            assert_stream_dir_healthy(spark, d)
        return None


def write_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    partition_by: Sequence[str] = (),
    key: str = "batch",
) -> None:
    """Write one batch's output to ``<path>/<key>=<batch_id>`` with
    OVERWRITE semantics, after :func:`assert_stream_dir_healthy` on
    ``path`` (contract: :func:`read_earlier`). ``partition_by`` adds
    secondary partition columns under the batch partition."""
    assert_stream_dir_healthy(df.sparkSession, path)
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(f"{path}/{key}={int(batch_id)}")


def assert_stream_dir_healthy(spark: SparkSession, path: str) -> None:
    """A MISSING state dir is a legitimate first-batch state ONLY if no
    crashed rewrite left a ``.compact_tmp`` / ``.compact_old`` sibling
    behind. Treating that state as a cold start would silently continue
    with an empty corpus; fail loudly instead and name the recovery
    rename."""
    p, fs = _hadoop_fs(spark, path)
    if fs.exists(p):
        return
    for suffix in (".compact_old", ".compact_tmp"):
        sp, _ = _hadoop_fs(spark, path + suffix)
        if fs.exists(sp):
            raise RuntimeError(
                f"{path} is missing but {path}{suffix} exists — a compaction "
                f"crashed mid-swap; rename {path}{suffix} to {path} to recover "
                "instead of cold-starting with an empty corpus"
            )


def recover_stale_sibling(spark: SparkSession, path: str, reader: bool = False) -> None:
    """Crash-recovery prologue of every rename-aside rewrite and of the
    query-side state readers: a completed-swap leftover
    ``.compact_old`` is superseded and reclaimed; a mid-swap crash
    (``path`` missing) restores the aside copy, which IS the corpus at
    that crash point.

    Race-benign for CONCURRENT RECOVERERS (two readers hitting the same
    crashed state): the loser's rename fails because the winner already
    restored ``path`` — that is success, not an error, so it re-checks
    before raising. Concurrency with a LIVE maintenance rewrite is the
    quiesced-stream caveat every compaction already carries: recovery
    cannot distinguish a crashed swap from one in flight, so run
    maintenance against quiesced state (readers are then always safe).

    ``reader=True`` is the PURE-READ mode (hist_read,
    cluster_labels_read): it never reclaims a superseded aside (that
    mutation belongs to maintenance — a read should not race another
    reader's recovery with deletes), and before restoring a missing
    primary it re-checks the primary once after a short pause so a read
    racing a LIVE staged_swap (aside rename done, swap rename
    microseconds away) observes the swap completing instead of yanking
    the aside out from under it and aborting the compaction. A primary
    still missing after the re-check is a genuine crash, and restoring
    the aside is then the documented recovery."""
    p, fs = _hadoop_fs(spark, path)
    op, _ = _hadoop_fs(spark, f"{path}.compact_old")
    if fs.exists(op):
        if fs.exists(p):
            if not reader:
                fs.delete(op, True)
        else:
            if reader:
                import time as _time

                _time.sleep(0.05)  # let an in-flight swap's second rename land
                if fs.exists(p):
                    return
            if not fs.rename(op, p) and not fs.exists(p):
                raise IOError(f"recovery rename {path}.compact_old -> {path} failed")


def staged_swap(spark: SparkSession, path: str, tmp: str) -> None:
    """The rename-aside swap: ``path → path.compact_old``, ``tmp →
    path``, delete the aside. A complete copy of the state exists at
    ``path`` or at a sibling at every instant, and
    :func:`recover_stale_sibling` repairs every crash point."""
    p, fs = _hadoop_fs(spark, path)
    old = f"{path}.compact_old"
    op, _ = _hadoop_fs(spark, old)
    tp, _ = _hadoop_fs(spark, tmp)
    if not fs.rename(p, op):
        raise IOError(f"aside rename {path} -> {old} failed; corpus untouched at {path}")
    if not fs.rename(tp, p):
        raise IOError(
            f"swap rename failed; complete data is at {old} (original) and {tmp} "
            f"(rewritten) — rename either to {path}"
        )
    fs.delete(op, True)


def swap_in(spark: SparkSession, path: str, write) -> None:
    """Replace ``path`` by what ``write(tmp)`` writes to the
    ``.compact_tmp`` sibling, then :func:`staged_swap` it in (a missing
    ``path`` — a first write — is a plain rename). A stale tmp from an
    earlier crashed rewrite may hold other data, so it is cleared first;
    that is safe because the original is still complete at this point."""
    tmp = f"{path}.compact_tmp"
    tp, fs = _hadoop_fs(spark, tmp)
    if fs.exists(tp):
        fs.delete(tp, True)
    write(tmp)
    p, _ = _hadoop_fs(spark, path)
    if fs.exists(p):
        staged_swap(spark, path, tmp)
    elif not fs.rename(tp, p):
        raise IOError(f"rename {tmp} -> {path} failed")


def _swap_rewrite(
    spark: SparkSession,
    path: str,
    build,
    by: Sequence[str] = (),
    source: str | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[int, int]:
    """The one rename-aside rewrite of a ``batch=<id>`` state dir:
    recover a stale sibling of ``path``, read ``source`` (default
    ``path``) with mergeSchema — a mixed-era dir (older batches missing
    a later-added column, e.g. the band table's ``sig``) must rewrite to
    the UNION schema — and write ``build(frame)`` through
    :func:`swap_in`. The output is partitioned by ``by``: with ``batch``
    among them the frame keeps its per-batch provenance, otherwise it
    lands under ``batch=<max id of source>`` (one file when ``by`` is
    empty). A rewrite that emits no data file (every row dropped) gets
    one schema-carrying empty file under that id, so the dir stays
    readable for resume and future ingest.

    With ``checkpoint_dir`` (the stream's checkpointLocation) the max
    batch id must be in its commits log, else the rewrite refuses: a
    restart would replay that batch, and its per-batch overwrite would
    replace the rewritten state. Returns ``(files_before,
    files_after)`` of ``path``."""
    recover_stale_sibling(spark, path)
    src = source or path
    before = _data_files(spark, path)
    df = spark.read.option("mergeSchema", "true").parquet(src)
    max_batch = _max_batch_id(spark, src)
    if checkpoint_dir is not None:
        committed = committed_stream_batches(spark, checkpoint_dir)
        if max_batch not in committed:
            raise RuntimeError(
                f"refusing to rewrite {path}: on-disk batch={max_batch} is not in "
                f"{checkpoint_dir}/commits (committed: {sorted(committed)[-3:]}); a restart "
                "would replay it and its per-batch overwrite would replace the rewritten state"
            )
    out = build(df)
    last = f"batch={max_batch}"

    def write(tmp: str) -> None:
        dest = tmp if "batch" in by else f"{tmp}/{last}"
        if by:
            w = out.repartition(*[F.col(c) for c in by]).write.partitionBy(*by)
        else:
            w = out.coalesce(1).write
        w.mode("overwrite").parquet(dest)
        # Patch emptiness from the FILE COUNT: probing the frame up front
        # would run the rewrite plan (a join-heavy replay, for the edit
        # purge) a second time.
        if _data_files(spark, tmp) == 0:
            out.drop("batch").coalesce(1).write.mode("overwrite").parquet(f"{tmp}/{last}")

    swap_in(spark, path, write)
    return before, _data_files(spark, path)


def compact_stream_dir(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str] = (),
    pre_merge=None,
    checkpoint_dir: str | None = None,
) -> tuple[int, int]:
    """Collapse every batch partition of a ``batch=<id>`` state dir into
    ONE ``batch=<max_id>`` partition, keeping any secondary partition
    columns. Merge-on-read results are identical before and after
    (asserted in tests); the max id is reused so the sinks'
    strictly-earlier read stays correct for future batches. Run between
    triggers against a quiesced stream; pass ``checkpoint_dir`` to
    enforce that ``max_id`` is committed. Crash safety, recovery and the
    commit gate: :func:`_swap_rewrite`. Returns ``(files_before,
    files_after)``.

    ``pre_merge`` (optional ``DataFrame -> DataFrame``) runs on the
    batch-stripped union before the rewrite, for sinks whose partials
    also RE-SUM on compaction (hist_compact passes the per-bin re-sum;
    it must be merge-on-read-invariant or the compaction changes
    results) and for the purges, whose pre-merges drop rows."""

    def build(df: DataFrame) -> DataFrame:
        out = df.drop("batch")
        return out if pre_merge is None else pre_merge(out)

    return _swap_rewrite(spark, path, build, by=tuple(partition_cols), checkpoint_dir=checkpoint_dir)


def rewrite_stream_dir(
    spark: SparkSession,
    path: str,
    rewrite,
    checkpoint_dir: str | None = None,
) -> tuple[int, int]:
    """In-place transform of a ``batch=<id>`` state dir that PRESERVES
    per-batch provenance — the sibling of :func:`compact_stream_dir` for
    state whose batch column is data, not just log structure (the edit
    tier's member ledger: a future purge recomputes each pair batch's
    values from the members with strictly smaller batch ids, so
    flattening would overcount). ``rewrite`` is ``DataFrame ->
    DataFrame`` over the frame WITH its ``batch`` column and must keep
    that column. Same swap, recovery and commit gate as compaction
    (:func:`_swap_rewrite`). Returns ``(files_before, files_after)``."""

    def build(df: DataFrame) -> DataFrame:
        out = rewrite(df)
        if "batch" not in out.columns:
            raise ValueError("rewrite_stream_dir: the rewrite must keep the `batch` column")
        return out

    return _swap_rewrite(spark, path, build, by=("batch",), checkpoint_dir=checkpoint_dir)


def _purge_intent_path(state_dir: str) -> str:
    return f"{state_dir}.purge_intent"


def write_purge_intent(spark: SparkSession, state_dir: str, deleted_ids: DataFrame) -> None:
    """Stage a durable PURGE-INTENT marker before a multi-directory purge
    (cluster_purge_state rewrites labels THEN bands; edit_purge_state
    rewrites four dirs): the marker holds the deleted-id set as parquet,
    so a crash between the component rewrites is recoverable — the next
    purge call (or an explicit resume) re-runs every rewrite with the
    stored set (each component rewrite is idempotent for an
    already-purged set), and the ingest sinks REFUSE to run while the
    marker exists, closing the window where purged docs' surviving
    partial state could re-enter the corpus. Without it, a crash after
    the labels rewrite but before the bands rewrite leaves purged bands
    live: the next ingest pairs against them and the label-less purged
    id can be resurrected as a cluster root.

    The marker itself is staged atomically (write to a ``.tmp`` sibling,
    then rename). Replacing an EXISTING marker (a resume restaging the
    merged set) renames the old marker ASIDE rather than deleting it —
    a delete-then-rename would open a window where a crash erases the
    staged set while the state is still half-purged, which is exactly
    the resurrection hazard the marker closes. read_purge_intent
    restores a stranded aside copy, so every crash point leaves a
    readable pending set."""
    marker = _purge_intent_path(state_dir)
    tmp = f"{marker}.tmp"
    old = f"{marker}.old"
    mp, fs = _hadoop_fs(spark, marker)
    tp, _ = _hadoop_fs(spark, tmp)
    op, _ = _hadoop_fs(spark, old)
    if fs.exists(tp):
        fs.delete(tp, True)
    deleted_ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    if fs.exists(op):
        fs.delete(op, True)
    if fs.exists(mp) and not fs.rename(mp, op):
        raise IOError(f"purge-intent aside rename {marker} -> {old} failed")
    if not fs.rename(tp, mp):
        raise IOError(
            f"purge-intent rename {tmp} -> {marker} failed; the prior set "
            f"(if any) is intact at {old}"
        )
    if fs.exists(op):
        fs.delete(op, True)


def read_purge_intent(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The pending deleted-id frame staged by :func:`write_purge_intent`,
    or None when no purge is in flight. With the marker missing, a
    COMPLETE ``.tmp`` (its parquet write finished — ``_SUCCESS``
    present) is preferred over the ``.old`` aside: a restage that
    crashed between its two renames had already fully written the
    MERGED set to ``.tmp``, so restoring ``.tmp`` recovers the crashed
    call's own new ids too, not just the pre-restage subset (``.old``
    is then superseded and reclaimed). An incomplete ``.tmp`` falls
    back to ``.old`` — still exact, because a caller that never saw
    write_purge_intent return must retry with the same deleted set."""
    marker = _purge_intent_path(state_dir)
    mp, fs = _hadoop_fs(spark, marker)
    if not fs.exists(mp):
        tmp = f"{marker}.tmp"
        old = f"{marker}.old"
        tp, _ = _hadoop_fs(spark, tmp)
        sp, _ = _hadoop_fs(spark, f"{tmp}/_SUCCESS")
        op, _ = _hadoop_fs(spark, old)
        if fs.exists(tp) and fs.exists(sp):
            if not fs.rename(tp, mp):
                raise IOError(f"purge-intent recovery rename {tmp} -> {marker} failed")
            if fs.exists(op):
                fs.delete(op, True)
        elif fs.exists(op):
            if not fs.rename(op, mp):
                raise IOError(f"purge-intent recovery rename {old} -> {marker} failed")
        else:
            return None
    return spark.read.parquet(marker)


def clear_purge_intent(spark: SparkSession, state_dir: str) -> None:
    """Drop the marker — called ONLY after every component rewrite of
    the composite purge has completed."""
    marker = _purge_intent_path(state_dir)
    mp, fs = _hadoop_fs(spark, marker)
    if fs.exists(mp):
        fs.delete(mp, True)


def assert_no_purge_intent(spark: SparkSession, state_dir: str, what: str) -> None:
    """Ingest-sink guard: refuse to fold a batch into state while a
    composite purge is incomplete (marker present). Running anyway would
    pair the batch against partially-purged state — e.g. purged bands
    whose labels are already gone — and write forgotten ids back into
    surviving rows, which a purge re-run can no longer repair.

    The in-flight definition MATCHES :func:`read_purge_intent` and
    state_doctor exactly: marker present, a stranded ``.old`` aside
    (a restage crashed mid-rename), OR a complete orphaned ``.tmp``
    (``_SUCCESS`` present, marker absent — write_purge_intent crashed
    after fully writing the set but before the final rename). The
    third case matters because a later read_purge_intent RESURRECTS
    that ``.tmp`` into a blocking marker: letting ingest run first
    would fold batches into state a pending purge is about to rewrite
    around — the exact resurrection window the marker closes."""
    marker = _purge_intent_path(state_dir)
    for path in (marker, f"{marker}.old"):  # .old = a restage crashed mid-rename
        mp, fs = _hadoop_fs(spark, path)
        if fs.exists(mp):
            raise RuntimeError(
                f"{what}: a purge over {state_dir} is incomplete "
                f"({path} exists) — re-run the purge (any deleted set, the "
                "pending one is merged in) to complete it before ingesting"
            )
    tp, fs = _hadoop_fs(spark, f"{marker}.tmp")
    sp, _ = _hadoop_fs(spark, f"{marker}.tmp/_SUCCESS")
    if fs.exists(tp) and fs.exists(sp):
        raise RuntimeError(
            f"{what}: a purge over {state_dir} is pending "
            f"({marker}.tmp is complete and will be resurrected into a "
            "marker by the next purge read) — re-run the purge to complete "
            "it before ingesting"
        )


def write_csv_single(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7 (`main_dag.py:248-262`): single-file headered CSV cache — the
    reference's inter-stage handoff format. coalesce(1) is deliberate
    and only sane for small control-plane outputs (caches, watermarks);
    data-plane tables use write_partitioned."""
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


def write_log_table(df: DataFrame, catalog_root: str, table: str, mode: str = "append") -> None:
    """S10 (`main_dag.py:399-488`): second-catalog log sink — the AstraDB
    analogue is just a different table root; log tables are append-only."""
    df.write.mode(mode).parquet(f"{catalog_root}/{table}")


def delete_by_key(table: DataFrame, doomed_keys: DataFrame, key: str) -> DataFrame:
    """S9 (`main_dag.py:372-379`): delete-by-key as an anti-join rewrite.
    Returns the surviving rows; the caller overwrites the table path
    (or, with a table format, runs the equivalent MERGE … DELETE)."""
    return table.join(doomed_keys.select(key).distinct(), key, "left_anti")


def insert_only_upsert(table: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """ST4 (`main_dag.py:143-148`; docx §Limitations): WHEN MATCHED THEN
    no-op — existing keys keep their rows, only never-seen keys insert."""
    fresh = incoming.join(table.select(key).distinct(), key, "left_anti")
    return table.unionByName(fresh)


def connectivity_probe(spark: SparkSession) -> bool:
    """S11 (`main_dag.py:325-332,422-430`): cheap liveness check of the
    execution engine before a load stage."""
    return spark.sql("SELECT 1 AS ok").collect()[0].ok == 1


def run_marker(spark: SparkSession, run_date: str) -> DataFrame:
    """ST1 (`main_dag.py:40-43`): the one-row watermark of the last run,
    Y/M/D unpadded format, written via write_csv_single."""
    return spark.createDataFrame([(run_date,)], ["timestamp"])


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    mode: str = "overwrite",
) -> None:
    """Training-data handoff sink: the corpus as JSON-lines files in
    content-hashed shard directories (``shard_id=K/part-*.json``, one
    line per row) — the format every downstream tokenizer/loader
    consumes. Same physical plan as write_sharded (one md5-keyed
    shuffle, one file per shard, byte-stable membership across
    re-exports); only the encoder differs. gzip codec keeps the
    JSON-text inflation (~2-3x vs parquet) off the wire."""
    from is3107datapipelineproject_spark.operators.sampling import shard_assignments

    (
        shard_assignments(df, id_col, n_shards)
        .repartition(n_shards, F.col("shard_id"))
        .sortWithinPartitions("shard_id", id_col)
        .write.mode(mode)
        .partitionBy("shard_id")
        .option("compression", "gzip")
        .json(path)
    )


def merge_apply(
    table: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
) -> DataFrame:
    """Full CDC MERGE as a batch rewrite: ``changes`` carries an
    ``op_col`` in {'U','I','D'} (upsert-update, insert, delete) plus
    the table's columns; returns the post-merge table. Completes the
    write surface delete_by_key ('D' only) and insert_only_upsert
    ('I' only) each cover half of:

    - 'D' keys are anti-joined away,
    - 'U'/'I' rows REPLACE any existing row with their key (last-writer
      -wins within a batch is the caller's contract: changes must be
      key-unique, asserted cheaply via a count guard),
    - everything else survives untouched.

    Plan: one anti-join of the table against the distinct change keys —
    broadcast EXPLICITLY (a CDC batch is dimension-sized by contract;
    the table side must never shuffle at 100 TB, and waiting for AQE to
    discover that wastes the first exchange) — + one union. With a
    transactional table format this becomes MERGE INTO; the relational
    algebra is identical."""
    data_cols = table.columns
    keyed = changes.select(op_col, *data_cols)
    dup = keyed.groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError("merge_apply: change batch has duplicate keys")
    survivors = table.join(F.broadcast(keyed.select(key).distinct()), key, "left_anti")
    upserts = keyed.filter(F.col(op_col).isin("U", "I")).select(*data_cols)
    return survivors.unionByName(upserts)
