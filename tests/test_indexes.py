"""Build-once surfaces (plans/indexes.py): physical-plan contracts.

Correctness of the from-index queries is oracle-checked like every
other registry entry (test_oracle_parity / the driver); these tests pin
the SCALE claims — the reasons the materialized tables exist at all:

- the edge-table scan is bucketed, and the PageRank loop over it never
  broadcasts or sort-merges the edge side (the round-6 probe caught
  Catalyst flipping to an edges-build BroadcastHashJoin once the table
  was small on disk — OOM at sf0.1 on a default-heap driver),
- the codes scan of the persisted IVF-PQ index carries a literal
  cluster PartitionFilter (planning-time pruning to ~1/k_coarse of the
  files),
- rebuilds are idempotent across sessions-with-stale-warehouse-dirs
  (the LOCATION_ALREADY_EXISTS trap).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from is3107datapipelineproject_spark.workload import registry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pagerank_from_edges_plan(spark):
    fn = registry.queries()["pagerank_from_edges"]
    plan = _plan(fn(spark, SF))
    assert "Bucketed: true" in plan, "edge scan must use the bucketed layout"
    assert "BroadcastHashJoin" not in plan, "edge side must never broadcast"
    assert "SortMergeJoin" not in plan, "edge side must never per-iteration sort"
    assert plan.count("ShuffledHashJoin") == 3, "one SHJ per iteration, rank as build side"


def test_bfs_from_edges_plan(spark):
    fn = registry.queries()["bfs_from_edges"]
    plan = _plan(fn(spark, SF))
    assert "Bucketed: true" in plan, "edge scan must use the bucketed layout"
    assert "BroadcastHashJoin" not in plan, (
        "frontier/visited are O(|V|) once the sweep saturates — never broadcast"
    )
    assert "SortMergeJoin" not in plan, "edge side must never per-round sort"
    # 3 frontier expansions + 3 visited anti-probes, all shuffled-hash.
    # The printed count exceeds 6 because the lazy visited-union nests
    # earlier rounds' subtrees (ReuseExchange collapses them at run).
    assert plan.count("ShuffledHashJoin") >= 6


def test_ppr_from_edges_plan(spark):
    fn = registry.queries()["ppr_from_edges"]
    plan = _plan(fn(spark, SF))
    assert "Bucketed: true" in plan, "edge scan must use the bucketed layout"
    assert "BroadcastHashJoin" not in plan, "edge side must never broadcast"
    assert "SortMergeJoin" not in plan, "edge side must never per-iteration sort"
    assert plan.count("ShuffledHashJoin") == 3, "one SHJ per iteration, rank as build side"


def test_ivfpq_codes_scan_partition_prunes(spark):
    fn = registry.queries()["ivfpq_topk_from_index"]
    plan = _plan(fn(spark, SF))
    m = re.search(r"_codes\[[^\]]*\][^\n]*", plan)
    assert m, "codes table scan missing from plan"
    scan_line = m.group(0)
    assert re.search(r"PartitionFilters: \[[^\]]*cluster", scan_line), (
        "codes scan must prune on a literal cluster id: " + scan_line[:200]
    )


def test_edge_table_rebuild_survives_stale_location(spark):
    from is3107datapipelineproject_spark.plans.indexes import (
        _tag,
        copurchase_edge_table,
    )

    table = f"copurchase_edges_{_tag(SF)}"
    copurchase_edge_table(spark, SF)
    n1 = spark.table(table).count()
    # simulate a NEW session: catalog forgets, warehouse dir survives
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert not os.path.exists(os.path.join(wh, table.lower())), (
        "DROP TABLE removes the managed location; recreate the stale-dir case"
    )
    os.makedirs(os.path.join(wh, table.lower()), exist_ok=True)
    n2 = copurchase_edge_table(spark, SF).count()
    assert n1 == n2 and n1 > 0


def test_table_lost_after_build_is_rebuilt(spark):
    """A build counts as done only while its marker AND every table it
    wrote are in the catalog. Losing the table a builder wrote LAST
    (orders_year_partitioned's year dimension) or a single-table
    build's table while its marker stays (band_signature_table) must
    rebuild on the next call, not latch the missing table."""
    from is3107datapipelineproject_spark.plans.indexes import (
        band_signature_table,
        orders_year_partitioned,
    )

    names = orders_year_partitioned(spark, SF)
    n_years = spark.table(names["years"]).count()
    spark.sql(f"DROP TABLE {names['years']}")
    assert orders_year_partitioned(spark, SF) == names
    assert spark.table(names["years"]).count() == n_years > 0

    table = band_signature_table(spark, SF)
    n_bands = spark.table(table).count()
    spark.sql(f"DROP TABLE {table}")
    assert spark.catalog.tableExists(f"{table}_ready")
    assert band_signature_table(spark, SF) == table
    assert spark.table(table).count() == n_bands > 0


def test_bucketed_fact_join_plan(spark):
    """The co-bucketed orders⋈lineitem contract: with broadcast off
    (simulating the 100 TB case where neither fact fits an executor),
    the equi-join must plan as a SortMergeJoin whose subtree contains
    NO Exchange — both bucketed scans already report the required
    HashPartitioning(orderkey, 16). The only exchange in the whole plan
    is the 5-row priority rollup. At toy SF with broadcast enabled
    Catalyst correctly prefers a broadcast join instead; that adaptive
    downgrade is allowed, the shuffle is not."""
    fn = registry.queries()["bucketed_join_revenue"]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(fn(spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan[:400]
    join_subtree = plan[plan.index("SortMergeJoin"):]
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Bucketed: true" in join_subtree
    assert join_subtree.count("Exchange") == 0, (
        "bucketed fact join must not shuffle either side:\n" + join_subtree[:600]
    )


def test_zorder_layout_prunes_boxes(spark, tmp_path):
    """The reason the z-table exists: for a box predicate (quarter of
    the user range × quarter of the time range) the Morton layout must
    leave FEWER row groups with overlapping min/max stats than a plain
    time-sorted layout of the same rows — time-sorting gives tight ts
    stats but full-range user stats, so every time-overlapping group
    survives the user dimension; the z-curve clusters both at once.
    Stats are read straight from the parquet footers (what the scan's
    row-group skipping consults)."""
    import glob

    import pyarrow.parquet as pq

    from is3107datapipelineproject_spark.plans.indexes import (
        _tag,
        zorder_events_table,
    )

    sf = "/root/testdata/sf0.01"
    zorder_events_table(spark, sf)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    zdir = f"{wh}/events_z_{_tag(sf).lower()}"
    e = spark.read.parquet(f"{sf}/events.parquet")
    tdir = str(tmp_path / "events_tsorted")
    old_tt = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        e.repartitionByRange(32, "ts").sortWithinPartitions("ts").write.parquet(tdir)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old_tt)

    import datetime

    from pyspark.sql import functions as F

    u0, u1, d0, d1 = e.agg(
        F.min("user_id"), F.max("user_id"),
        F.min(F.unix_date(F.to_date("ts"))), F.max(F.unix_date(F.to_date("ts"))),
    ).first()
    uhi = u0 + (u1 - u0) // 4
    epoch = datetime.datetime(1970, 1, 1)
    lo_ts = epoch + datetime.timedelta(days=int(d0))
    hi_ts = epoch + datetime.timedelta(days=int(d0 + (d1 - d0) // 4) + 1)

    def overlapping_groups(d: str) -> tuple[int, int]:
        tot = hit = 0
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {
                    md.row_group(rg).column(i).path_in_schema:
                        md.row_group(rg).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                tot += 1
                su, st = cols["user_id"], cols["ts"]
                # Spark writes isAdjustedToUTC → pyarrow returns aware
                # datetimes; the box bounds are naive wall-clock values.
                st_min = st.min.replace(tzinfo=None)
                st_max = st.max.replace(tzinfo=None)
                if (su.min <= uhi and su.max >= u0
                        and st_min < hi_ts and st_max >= lo_ts):
                    hit += 1
        return hit, tot

    z_hit, z_tot = overlapping_groups(zdir)
    t_hit, t_tot = overlapping_groups(tdir)
    assert z_tot >= 16 and t_tot >= 16
    assert z_hit < t_hit, (
        f"z-order must beat time-sort on a 2-D box: z {z_hit}/{z_tot} vs ts {t_hit}/{t_tot}"
    )
    assert z_hit <= z_tot // 4, (
        f"box covers 1/16 of the plane; z-layout should skip most groups: {z_hit}/{z_tot}"
    )


def test_dpp_plan_prunes_partitions(spark):
    """dpp_modern_era_revenue's fact scan must carry a runtime
    ``dynamicpruning`` PartitionFilter derived from the era-dim join —
    the query names no year, yet only matching year directories are
    read."""
    fn = registry.queries()["dpp_modern_era_revenue"]
    plan = _plan(fn(spark, SF))
    m = re.search(r"orders_byyear[^\n]*", plan)
    assert m, "year-partitioned orders scan missing"
    assert "dynamicpruning" in m.group(0), (
        "fact scan must be dynamically pruned: " + m.group(0)[:300]
    )


def test_runtime_bloom_filter_join(spark):
    """bloom_join_brand_qty's 100 TB contract: with the application-side
    size threshold lowered to simulate a big fact scan (and broadcast
    off so the join actually shuffles), Spark must inject a
    bloom_filter_agg over the filtered dim keys and a ``might_contain``
    predicate into the fact side — runtime row-level pruning, the
    sibling of DPP's partition-level pruning."""
    fn = registry.queries()["bloom_join_brand_qty"]
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        plan = _plan(fn(spark, SF))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan, "fact side must carry the runtime bloom probe"
    assert "bloom_filter_agg" in plan, "dim side must build the bloom filter"


def test_ann_index_append_matches_oneshot_encode(spark):
    """Append == rebuild under the frozen model: the incrementally
    maintained codes table (built on the base 80%, arrivals appended)
    must be bit-identical to a ONE-SHOT encode of the full corpus
    against the same stored centroids/codebook — the property that
    makes ingest batching invisible to the index state. Also pins that
    the model really was trained on the base only."""
    from is3107datapipelineproject_spark.operators.clustering import (
        assign_to_centroids,
        kmeans_fit,
    )
    from is3107datapipelineproject_spark.operators.pq import pq_encode
    from is3107datapipelineproject_spark.plans.indexes import (
        ANN_APPEND_MOD,
        ANN_APPEND_REM,
        ann_appended_index_tables,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    tabs = ann_appended_index_tables(spark, SF)
    emb = load_table(spark, SF, "embeddings")

    got = {
        (r.vec_id, r.sub, r.code, r.cluster)
        for r in spark.table(tabs["codes"]).collect()
    }
    cb = spark.table(tabs["codebook"])
    cents = spark.table(tabs["centroids"])
    oneshot = pq_encode(emb, "vec_id", "embedding", m=8, k=16, codebook=cb).join(
        assign_to_centroids(emb, "vec_id", "embedding", cents).select(
            "vec_id", "cluster"
        ),
        "vec_id",
    )
    want = {(r.vec_id, r.sub, r.code, r.cluster) for r in oneshot.collect()}
    assert got == want and len(got) > 0

    # model frozen at base: centroids equal a fresh fit on the base 80%
    base = emb.filter(F.col("vec_id") % ANN_APPEND_MOD != ANN_APPEND_REM)
    want_cents = {
        (r.cid, tuple(r.centroid))
        for r in kmeans_fit(base, "vec_id", "embedding", k=8, iters=2).collect()
    }
    got_cents = {(r.cid, tuple(r.centroid)) for r in cents.collect()}
    assert got_cents == want_cents

    # appended rows really are in the table (the 20% arrival slice)
    n_app = (
        spark.table(tabs["codes"])
        .filter((F.col("sub") == 0) & (F.col("vec_id") % ANN_APPEND_MOD == ANN_APPEND_REM))
        .count()
    )
    assert n_app == emb.filter(F.col("vec_id") % ANN_APPEND_MOD == ANN_APPEND_REM).count()


def test_ann_appended_index_query_prunes(spark):
    """ivfpq_topk_from_index runs UNCHANGED over the appended index and
    still partition-prunes the codes scan at planning time."""
    from is3107datapipelineproject_spark.operators.pq import ivfpq_topk_from_index
    from is3107datapipelineproject_spark.plans.indexes import ann_appended_index_tables
    from is3107datapipelineproject_spark.sources.tables import load_table

    tabs = ann_appended_index_tables(spark, SF)
    emb = load_table(spark, SF, "embeddings")
    df = ivfpq_topk_from_index(spark, tabs, emb, "vec_id", "embedding", topn=20)
    plan = _plan(df)
    m = re.search(r"_codes\[[^\]]*\][^\n]*", plan)
    assert m and re.search(r"PartitionFilters: \[[^\]]*cluster", m.group(0))
    assert df.count() == 20


def test_ann_ingest_sink_matches_batch_append(spark, tmp_path):
    """Streamed arrivals == batch append: drain the 20% arrival slice
    through ann_ingest_sink in two micro-batches; the streamed codes
    must equal the appended rows of the batch-maintained table
    bit-for-bit, and an at-least-once replay of a batch must leave the
    directory unchanged."""
    from is3107datapipelineproject_spark.plans.indexes import (
        ANN_APPEND_MOD,
        ANN_APPEND_REM,
        ann_appended_index_tables,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table
    from is3107datapipelineproject_spark.streaming.windows import ann_ingest_sink
    from pyspark.sql import functions as F

    tabs = ann_appended_index_tables(spark, SF)
    emb = load_table(spark, SF, "embeddings")
    arrivals = emb.filter(F.col("vec_id") % ANN_APPEND_MOD == ANN_APPEND_REM)
    # split arrivals into two files -> two availableNow micro-batches
    vec_dir = tmp_path / "ann_arrivals"
    a1 = arrivals.filter(F.col("vec_id") % 2 == 0)
    a2 = arrivals.filter(F.col("vec_id") % 2 == 1)
    a1.coalesce(1).write.parquet(str(vec_dir / "f0.parquet"))
    a2.coalesce(1).write.parquet(str(vec_dir / "f1.parquet"))
    codes_dir = str(tmp_path / "ann_codes")

    stream = (
        spark.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(vec_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            ann_ingest_sink(tabs["centroids"], tabs["codebook"], codes_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ann_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.vec_id, r.sub, r.code, r.cluster)
        for r in spark.read.parquet(codes_dir).collect()
    }
    want = {
        (r.vec_id, r.sub, r.code, r.cluster)
        for r in spark.table(tabs["codes"])
        .filter(F.col("vec_id") % ANN_APPEND_MOD == ANN_APPEND_REM)
        .collect()
    }
    assert got == want and len(got) > 0

    # replay batch 1 (same data, same batch_id): directory unchanged
    ann_ingest_sink(tabs["centroids"], tabs["codebook"], codes_dir)(a2, 1)
    got2 = {
        (r.vec_id, r.sub, r.code, r.cluster)
        for r in spark.read.parquet(codes_dir).collect()
    }
    assert got2 == want


def test_compact_table_ann_codes(spark):
    """Layout maintenance: the appended codes table accretes files
    (base build + every append); compact_table must collapse each
    cluster partition back to one file with BIT-IDENTICAL contents, and
    the query path must still partition-prune afterwards."""
    from is3107datapipelineproject_spark.plans.layout import compact_table
    from is3107datapipelineproject_spark.plans.indexes import ann_appended_index_tables

    tabs = ann_appended_index_tables(spark, SF)
    codes = tabs["codes"]
    before_rows = sorted(
        (r.vec_id, r.sub, r.code, r.cluster) for r in spark.table(codes).collect()
    )
    n_clusters = spark.table(codes).select("cluster").distinct().count()
    files_before, files_after = compact_table(spark, codes, ["cluster"])
    assert files_before > n_clusters, "append must have accreted extra files"
    assert files_after < files_before, "compaction must shrink the file count"
    assert files_after <= n_clusters + 1
    after_rows = sorted(
        (r.vec_id, r.sub, r.code, r.cluster) for r in spark.table(codes).collect()
    )
    assert after_rows == before_rows and len(after_rows) > 0

    # query path unchanged: still planning-time cluster pruning
    from is3107datapipelineproject_spark.operators.pq import ivfpq_topk_from_index
    from is3107datapipelineproject_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    df = ivfpq_topk_from_index(spark, tabs, emb, "vec_id", "embedding", topn=20)
    plan = _plan(df)
    m = re.search(r"_codes\[[^\]]*\][^\n]*", plan)
    assert m and re.search(r"PartitionFilters: \[[^\]]*cluster", m.group(0))
    assert df.count() == 20


def test_dblp_pair_lookup_prunes_year_partition(spark):
    """Interactive-2 reads the STORED pair fact: the year literal must
    reach the scan as a planning-time PartitionFilter (the Cassandra
    partition-key read the reference's layout buys), and the lookup
    returns the pair row."""
    fn = registry.queries()["dblp_pair_lookup"]
    df = fn(spark, SF)
    plan = _plan(df)
    m = re.search(r"dblp_pairs_[^\n]*", plan)
    assert m, "stored pair-fact scan missing from plan"
    assert re.search(r"PartitionFilters: \[[^\]]*year", m.group(0)), (
        "year literal must prune at planning time: " + m.group(0)[:200]
    )
    rows = df.collect()
    assert len(rows) == 1 and rows[0].author1 == "1" and rows[0].author2 == "8"


def test_edge_append_merge_equals_full_rebuild(spark):
    """Append == rebuild for the incrementally maintained arc table:
    the merge-on-read normalized view over (base build + appended
    order batch) must be bit-identical to the one-shot full build —
    arc weights are additive over order-grain batches. Also pins the
    scale shape: the (src,dst) merge and the out-weight aggregate run
    with NO exchange above the bucketed scan."""
    from is3107datapipelineproject_spark.plans.indexes import (
        copurchase_edge_table,
        edge_append_tables,
        merged_edge_norm,
    )

    table = edge_append_tables(spark, SF)
    merged = merged_edge_norm(spark, table)
    got = {(r.src, r.dst, r.w, r.ow) for r in merged.collect()}
    want = {
        (r.src, r.dst, r.w, r.ow)
        for r in copurchase_edge_table(spark, SF).collect()
    }
    assert got == want and len(got) > 0

    plan = _plan(merged)
    assert "Bucketed: true" in plan
    # no SHUFFLE anywhere: HashPartitioning(src) from the bucketed scan
    # satisfies clustering for both groupBys and the src equi-join (the
    # O(|V|) out-weight side is SHUFFLE_HASH-pinned, never broadcast)
    assert "Exchange hashpartitioning" not in plan, plan[:800]
    assert "BroadcastHashJoin" not in plan, plan[:800]


def test_pagerank_from_merged_edges_plan(spark):
    fn = registry.queries()["pagerank_from_merged_edges"]
    plan = _plan(fn(spark, SF))
    assert "Bucketed: true" in plan
    assert "BroadcastHashJoin" not in plan, "edge/ow sides must never broadcast"
    assert "SortMergeJoin" not in plan
    # 1 zero-exchange ow join + 3 rank iterations, all shuffled-hash
    # (printed count exceeds 4: the lazy rank chain nests earlier
    # iterations' subtrees; ReuseExchange collapses them at run)
    assert plan.count("ShuffledHashJoin") >= 4
    # the only hash exchanges are the O(|V|) rank-vector shuffles —
    # never the arc scan side
    import re as _re

    assert not _re.search(r"Exchange hashpartitioning\(src#\d+L, \d+\)[^\n]*\n[^\n]*copurchase_arcs", plan)


def test_compact_arc_table_preserves_merge_and_buckets(spark):
    """Arc-table compaction: re-summing the appended partials must
    shrink files AND rows, keep the bucketed layout (the from-edges
    zero-exchange contract), and leave merged_edge_norm bit-identical."""
    from is3107datapipelineproject_spark.plans.indexes import (
        compact_arc_table,
        edge_append_tables,
        merged_edge_norm,
    )

    table = edge_append_tables(spark, SF)
    before_view = {
        (r.src, r.dst, r.w, r.ow) for r in merged_edge_norm(spark, table).collect()
    }
    rows_before = spark.table(table).count()
    fb, fa = compact_arc_table(spark, table)
    assert fa < fb, "compaction must shrink the file count"
    assert spark.table(table).count() < rows_before, "partials must re-sum"
    after = merged_edge_norm(spark, table)
    assert {
        (r.src, r.dst, r.w, r.ow) for r in after.collect()
    } == before_view
    plan = _plan(after)
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan


def test_should_compact_policy_probe(spark, tmp_path):
    """should_compact fires only on many-SMALL-files layouts: few files
    -> False regardless of size; many small files -> True; many files
    with a big mean size -> False (healthy large table)."""
    from is3107datapipelineproject_spark.plans.layout import layout_stats, should_compact

    d = str(tmp_path / "probe")
    spark.range(100).coalesce(1).write.parquet(d)
    assert not should_compact(spark, d, max_files=4)
    for i in range(6):
        spark.range(i, i + 1).coalesce(1).write.mode("append").parquet(d)
    n, total = layout_stats(spark, d)
    assert n > 4 and total > 0
    assert should_compact(spark, d, max_files=4)
    # same file count, but pretend files are big: mean-size floor vetoes
    assert not should_compact(spark, d, max_files=4, min_avg_bytes=1)
    assert not should_compact(spark, str(tmp_path / "missing"), max_files=0)


def test_append_burst_self_triggers_arc_compaction(spark):
    """Compaction POLICY (not just mechanism): an append burst through
    edge_table_append must self-trigger compact_arc_table once the
    file-count threshold is crossed, restoring the amortized layout
    (bounded small files, re-summed rows) with merged_edge_norm
    bit-identical and the zero-exchange bucketed plan intact — the
    guard against the x100 merge-on-read 175s-vs-45s regime."""
    from is3107datapipelineproject_spark.plans.layout import (
        _table_location,
        should_compact,
    )
    from is3107datapipelineproject_spark.plans.indexes import (
        EDGE_PB_PARTS,
        _write_pb_bucketed,
        copurchase_edge_arcs,
        edge_table_append,
        merged_edge_norm,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table

    table = "arc_policy_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    base = li.filter(F.col("l_orderkey") % 4 == 0)
    _write_pb_bucketed(copurchase_edge_arcs(base), table, 8)
    loc = _table_location(spark, table)

    # burst: 3 appends at a threshold above the pb layout's file floor
    # (one bucket file per non-empty pb dir, <= EDGE_PB_PARTS) that the
    # appends cross; each append adds up to EDGE_PB_PARTS files
    cap = EDGE_PB_PARTS + 36
    for rem in (1, 2, 3):
        edge_table_append(
            spark, table, li.filter(F.col("l_orderkey") % 4 == rem),
            n_buckets=8, compact_max_files=cap,
        )
    # the policy must have fired: a no-policy burst would sit at ~4x
    # EDGE_PB_PARTS files of partials, above the threshold
    assert not should_compact(spark, loc, max_files=cap)
    from is3107datapipelineproject_spark.plans.layout import layout_stats

    n_files, _ = layout_stats(spark, loc)
    assert n_files <= cap + EDGE_PB_PARTS, f"compaction never fired: {n_files} files"

    # amortized shape + exactness restored: merged view == full rebuild,
    # rows re-summed (no per-batch partials left), plan zero-exchange
    merged = merged_edge_norm(spark, table)
    full = copurchase_edge_arcs(li).groupBy("src", "dst").agg(
        F.sum("w").cast("long").alias("w")
    )
    fow = full.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    expect = {
        (r.src, r.dst, r.w, r.ow)
        for r in full.join(fow, "src").select("src", "dst", "w", "ow").collect()
    }
    assert {(r.src, r.dst, r.w, r.ow) for r in merged.collect()} == expect
    plan = _plan(merged)
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_growth_policy_triggers_arc_compaction(spark):
    """The size-growth ("partial-row") compaction trigger: once a meta
    baseline exists, an append growing the table past compact_delta_frac
    must self-compact EVEN WHEN every file is large — the x100
    merge-on-read regime (45s -> 175s after a ~20% burst of big files)
    that a small-files heuristic can never see."""
    from is3107datapipelineproject_spark.plans.indexes import (
        _write_pb_bucketed,
        arc_compacted_bytes,
        copurchase_edge_arcs,
        edge_table_append,
        record_arc_compact_meta,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table

    table = "arc_growth_policy_test"
    for t in (table, f"{table}_compactmeta", f"{table}__compacting"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    base = li.filter(F.col("l_orderkey") % 2 == 0)
    _write_pb_bucketed(copurchase_edge_arcs(base), table, 8)
    record_arc_compact_meta(spark, table)
    base_bytes = arc_compacted_bytes(spark, table)
    assert base_bytes and base_bytes > 0

    # ~100% growth >> 20% threshold; file policy disabled so only the
    # growth trigger can fire
    edge_table_append(
        spark, table, li.filter(F.col("l_orderkey") % 2 == 1),
        n_buckets=8, compact_max_files=None, compact_delta_frac=0.2,
    )
    # compaction ran: rows are fully merged (one per (src,dst)) and the
    # baseline was re-recorded at the compacted size
    total = spark.table(table).count()
    distinct = spark.table(table).select("src", "dst").distinct().count()
    assert total == distinct > 0, "append partials were not re-summed"
    assert arc_compacted_bytes(spark, table) != base_bytes
    # exactness: merged table == one-shot full build
    full = copurchase_edge_arcs(li).groupBy("src", "dst").agg(
        F.sum("w").cast("long").alias("w")
    )
    assert {(r.src, r.dst, r.w) for r in spark.table(table).collect()} == {
        (r.src, r.dst, r.w) for r in full.collect()
    }
    for t in (table, f"{table}_compactmeta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_renormalize_edge_table_matches_scratch_build(spark):
    """Post-burst maintenance second half: refreshing the pre-normalized
    edge table FROM the arc table must be bit-identical to a from-scratch
    copurchase_edge_table build (arc additivity), must keep the bucketed
    zero-exchange layout, and the from-edges consumers run unchanged."""
    from is3107datapipelineproject_spark.plans.indexes import (
        _tag,
        copurchase_edge_table,
        renormalize_edge_table,
    )

    want = {
        (r.src, r.dst, r.w, r.ow)
        for r in copurchase_edge_table(spark, SF).collect()
    }
    table = renormalize_edge_table(spark, SF)
    assert table == f"copurchase_edges_{_tag(SF)}"
    got = {(r.src, r.dst, r.w, r.ow) for r in spark.table(table).collect()}
    assert got == want and len(got) > 0
    plan = _plan(spark.table(table).groupBy("src").agg(F.sum("w").alias("s")))
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan
    # the registered from-edges query still plans its zero-exchange shape
    fn = registry.queries()["pagerank_from_edges"]
    p2 = _plan(fn(spark, SF))
    assert "Bucketed: true" in p2 and "SortMergeJoin" not in p2


def test_ann_append_small_files_policy_triggers_compaction(spark):
    """The codes-table sibling of the arc growth test: repeated small
    appends through ann_index_append with a low file threshold must
    self-trigger compact_table, collapsing each cluster partition back
    to few files with bit-identical contents (codes are a pure per-row
    function of the corpus under the frozen model)."""
    from is3107datapipelineproject_spark.plans.indexes import (
        ann_appended_index_tables,
        ann_index_append,
    )
    from is3107datapipelineproject_spark.plans.layout import (
        _table_location,
        layout_stats,
        should_compact,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table

    tabs = ann_appended_index_tables(spark, SF)
    emb = load_table(spark, SF, "embeddings")
    before = sorted(
        (r.vec_id, r.sub, r.code, r.cluster) for r in spark.table(tabs["codes"]).collect()
    )
    loc = _table_location(spark, tabs["codes"])
    # burst of tiny re-encodes of a disjoint id range (offset so rows are
    # new, not replayed), threshold low enough that the policy must fire
    base_max = spark.table(tabs["codes"]).agg(F.max("vec_id")).first()[0]
    appended_ids: set[int] = set()
    for i in range(3):
        batch = emb.orderBy("vec_id").limit(4).select(
            (F.col("vec_id") + (base_max + 1 + i * 10)).alias("vec_id"), "embedding"
        )
        appended_ids |= {r.vec_id for r in batch.select("vec_id").collect()}
        ann_index_append(spark, tabs, batch, compact_max_files=8)
    assert not should_compact(spark, loc, max_files=8), "policy never fired"
    # the appended rows actually landed AND survived the compaction
    got_ids = {
        r.vec_id
        for r in spark.table(tabs["codes"]).filter(F.col("vec_id") > base_max)
        .select("vec_id").distinct().collect()
    }
    assert got_ids == appended_ids and len(appended_ids) == 12
    n_files, _ = layout_stats(spark, loc)
    n_clusters = spark.table(tabs["codes"]).select("cluster").distinct().count()
    assert n_files <= n_clusters + 8, f"still {n_files} files for {n_clusters} clusters"
    # original codes unchanged by append+compaction
    after = sorted(
        (r.vec_id, r.sub, r.code, r.cluster)
        for r in spark.table(tabs["codes"]).collect()
        if r.vec_id <= base_max
    )
    assert after == before


def _edges_files(spark, edges):
    """{relative_path: (size, mtime)} for the edges table's data files."""
    from is3107datapipelineproject_spark.plans.layout import (
        _hadoop_fs,
        _table_location,
    )

    loc = _table_location(spark, edges)
    p, fs = _hadoop_fs(spark, loc)
    out = {}
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        if not name.split("/")[-1].startswith(("_", ".")):
            out[name[len(str(p)):]] = (st.getLen(), st.getModificationTime())
    return out


def test_growth_trigger_refreshes_edges_twin_incrementally(spark):
    """Full maintenance loop, automatic AND proportional: when the
    growth policy fires compact_arc_table on a copurchase arc table
    whose pre-normalized edges twin is materialized, the twin must be
    refreshed from the compacted arcs in the same trigger — via the
    TOUCHED-PARTITION path: contents bit-identical to a full rebuild,
    but only the pb partitions the burst's part keys hash into are
    rewritten (untouched partition files byte-identical and untouched
    on disk)."""
    from is3107datapipelineproject_spark.plans.indexes import (
        _pb,
        _tag,
        copurchase_edge_arcs,
        copurchase_edge_table,
        edge_append_tables,
        edge_table_append,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table

    arc = edge_append_tables(spark, SF)
    edges = f"copurchase_edges_{_tag(SF)}"
    spark.sql(f"DROP TABLE IF EXISTS {edges}")
    copurchase_edge_table(spark, SF)  # twin in sync (scratch == arcs)
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    before_files = _edges_files(spark, edges)

    # force the growth trigger: tiny baseline, then a ONE-ORDER burst
    # (small pb footprint)
    spark.createDataFrame([(1,)], "bytes bigint").coalesce(1).write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(f"{arc}_compactmeta")
    one_order = li.orderBy("l_orderkey").limit(1).select("l_orderkey").collect()[0][0]
    burst = li.filter(F.col("l_orderkey") == one_order)
    touched_pbs = {r.pb for r in burst.select(_pb("l_partkey").alias("pb")).distinct().collect()}
    assert 0 < len(touched_pbs) < 32, "burst must touch a minority of partitions"
    edge_table_append(
        spark, arc, burst, compact_max_files=None, compact_delta_frac=0.2,
    )

    # twin contents == full rebuild including the double-counted burst
    refreshed = {(r.src, r.dst, r.w, r.ow) for r in spark.table(edges).collect()}
    full_arcs = copurchase_edge_arcs(li).unionByName(copurchase_edge_arcs(burst))
    merged = full_arcs.groupBy("src", "dst").agg(F.sum("w").cast("long").alias("w"))
    ow = merged.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    want = {
        (r.src, r.dst, r.w, r.ow)
        for r in merged.join(ow, "src").select("src", "dst", "w", "ow").collect()
    }
    assert refreshed == want
    # proportionality: untouched pb partitions were not rewritten
    after_files = _edges_files(spark, edges)
    untouched_before = {
        k: v for k, v in before_files.items()
        if not any(f"pb={pb}/" in k for pb in touched_pbs)
    }
    untouched_after = {
        k: v for k, v in after_files.items()
        if not any(f"pb={pb}/" in k for pb in touched_pbs)
    }
    assert untouched_before == untouched_after, "untouched partitions were rewritten"
    assert any(f"pb={pb}/" in k for pb in touched_pbs for k in after_files), \
        "touched partitions missing"
    # restore the canonical artifacts for other tests: rebuild arc + edges
    for t in (arc, f"{arc}_ready", f"{arc}_compactmeta", f"{arc}_touched", edges):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _arc_snapshot(spark, table):
    from is3107datapipelineproject_spark.plans.indexes import merged_edge_norm

    return {(r.src, r.dst, r.w, r.ow) for r in merged_edge_norm(spark, table).collect()}


def test_crashed_compaction_recovery_all_windows(spark):
    """A crash inside compact_arc_table's swap window (marker dropped,
    rewrite pending) must NOT route the next edge_append_tables call
    into the rebuild path — that would DROP the surviving arcs and
    silently discard every production-appended batch (round-9 ADVICE).
    Simulates all three gap states; in each, the recovered table must
    still contain the production append a rebuild would lose."""
    from is3107datapipelineproject_spark.plans.indexes import (
        _write_pb_bucketed,
        compact_arc_table,
        edge_append_tables,
        edge_table_append,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table

    table = edge_append_tables(spark, SF)
    marker, staged = f"{table}_ready", f"{table}__compacting"
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    # a production append the demo rebuild does NOT regenerate
    edge_table_append(
        spark, table, li.filter(F.col("l_orderkey") % 97 == 11),
        compact_max_files=None, compact_delta_frac=None,
    )
    want = _arc_snapshot(spark, table)

    # window 3: crash after the RENAME, before the marker rewrite
    spark.sql(f"DROP TABLE {marker}")
    assert edge_append_tables(spark, SF) == table
    assert spark.catalog.tableExists(marker), "must re-latch, not rebuild"
    assert _arc_snapshot(spark, table) == want, "rebuild lost the appended arcs"

    # window 1: staged merge written, marker dropped, original intact —
    # PLUS a post-crash append into the unlatched table: recovery must
    # keep the table (a strict superset of staged) and drop staged, so
    # the post-crash batch survives too
    merged = (
        spark.table(table).groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    spark.sql(f"DROP TABLE IF EXISTS {staged}")
    _write_pb_bucketed(merged, staged, 16)
    spark.sql(f"DROP TABLE {marker}")
    post_crash = li.filter(F.col("l_orderkey") % 97 == 23)
    edge_table_append(
        spark, table, post_crash, compact_max_files=None, compact_delta_frac=None,
    )
    want_w1 = _arc_snapshot(spark, table)  # includes the post-crash batch
    assert want_w1 != want
    edge_append_tables(spark, SF)
    assert not spark.catalog.tableExists(staged), "staged must be discarded"
    assert _arc_snapshot(spark, table) == want_w1, "post-crash append lost"
    want = want_w1

    # window 2: staged written, original already dropped
    _write_pb_bucketed(spark.table(table).drop("pb"), staged, 16)
    spark.sql(f"DROP TABLE {marker}")
    spark.sql(f"DROP TABLE {table}")
    edge_append_tables(spark, SF)
    assert _arc_snapshot(spark, table) == want

    # window 2 + post-crash append: table dropped mid-swap, then an
    # append re-CREATES it holding ONLY the burst — Σw(table) < Σw(staged)
    # proves the remnant shape, and recovery must UNION both sides
    # (dropping either one silently loses data)
    _write_pb_bucketed(spark.table(table).drop("pb"), staged, 16)
    spark.sql(f"DROP TABLE {marker}")
    spark.sql(f"DROP TABLE {table}")
    burst = li.filter(F.col("l_orderkey") % 97 == 41)
    edge_table_append(
        spark, table, burst, compact_max_files=None, compact_delta_frac=None,
    )
    edge_append_tables(spark, SF)
    got = _arc_snapshot(spark, table)
    from is3107datapipelineproject_spark.plans.indexes import (
        copurchase_edge_arcs,
        merged_edge_norm,
    )

    # expected: the staged corpus plus the burst arcs, re-normalized
    prev = {(a, b): w for (a, b, w, _) in want}
    for r in copurchase_edge_arcs(burst).collect():
        prev[(r.src, r.dst)] = prev.get((r.src, r.dst), 0) + r.w
    ow = {}
    for (a, _), w in prev.items():
        ow[a] = ow.get(a, 0) + w
    want_union = {(a, b, w, ow[a]) for (a, b), w in prev.items()}
    assert got == want_union, "union recovery must keep corpus AND burst"
    assert not spark.catalog.tableExists(staged)
    assert not spark.catalog.tableExists(f"{table}__recovering")
    want = got

    # sanity: a REAL half-built initial state (no compactmeta) still
    # takes the rebuild path
    for t in (table, marker, staged, f"{table}_compactmeta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    rebuilt = edge_append_tables(spark, SF)
    base = _arc_snapshot(spark, rebuilt)
    assert base != want, "rebuild regenerates base+demo only (append absent)"
    # leave canonical state for other tests (fresh build is canonical)


def test_incremental_renormalize_bit_identical_to_full(spark):
    """renormalize_edge_table_incremental == the full refresh,
    bit-for-bit, after a multi-append burst (the touched log
    accumulates across appends); a second call with a clean log is a
    no-op (0 partitions rewritten)."""
    from is3107datapipelineproject_spark.plans.indexes import (
        EDGE_PB_PARTS,
        _tag,
        copurchase_edge_table,
        edge_append_tables,
        edge_table_append,
        merged_edge_norm,
        renormalize_edge_table_incremental,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table

    arc = edge_append_tables(spark, SF)
    edges = f"copurchase_edges_{_tag(SF)}"
    spark.sql(f"DROP TABLE IF EXISTS {edges}")
    copurchase_edge_table(spark, SF)
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    # two appends, compaction off (isolate the renorm step)
    for rem in (3, 7):
        edge_table_append(
            spark, arc, li.filter(F.col("l_orderkey") % 13 == rem),
            compact_max_files=None, compact_delta_frac=None,
        )
    touched, total = renormalize_edge_table_incremental(spark, SF)
    assert 0 < touched <= total == EDGE_PB_PARTS
    got = {(r.src, r.dst, r.w, r.ow) for r in spark.table(edges).collect()}
    want = {
        (r.src, r.dst, r.w, r.ow)
        for r in merged_edge_norm(spark, arc).collect()
    }
    assert got == want and len(got) > 0
    # log cleared -> idempotent no-op
    assert renormalize_edge_table_incremental(spark, SF)[0] == 0
    # zero-exchange consumer contract intact on the refreshed table
    plan = _plan(spark.table(edges).groupBy("src").agg(F.sum("w").alias("s")))
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan
    for t in (arc, f"{arc}_ready", f"{arc}_compactmeta", f"{arc}_touched", edges):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_renormalized_edges_latch_before_first_build(spark):
    """append → renormalize_edge_table in a session where
    copurchase_edge_table has not run yet: the refreshed edges table
    counts as built, so the next copurchase_edge_table call returns the
    refreshed rows (appended arcs included) instead of rebuilding from
    source lineitem."""
    from is3107datapipelineproject_spark.plans.indexes import (
        _tag,
        copurchase_edge_table,
        edge_append_tables,
        edge_table_append,
        merged_edge_norm,
        renormalize_edge_table,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table

    arc = edge_append_tables(spark, SF)
    edges = f"copurchase_edges_{_tag(SF)}"
    for t in (edges, f"{edges}_ready"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    before = {(r.src, r.dst, r.w, r.ow) for r in merged_edge_norm(spark, arc).collect()}
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    edge_table_append(
        spark, arc, li.filter(F.col("l_orderkey") % 13 == 5),
        compact_max_files=None, compact_delta_frac=None,
    )
    renormalize_edge_table(spark, SF)
    want = {(r.src, r.dst, r.w, r.ow) for r in merged_edge_norm(spark, arc).collect()}
    got = {(r.src, r.dst, r.w, r.ow) for r in copurchase_edge_table(spark, SF).collect()}
    assert want != before
    assert got == want
    for t in (arc, f"{arc}_ready", f"{arc}_compactmeta", f"{arc}_touched", edges):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_index_delete_prunes_and_matches_surviving_encode(spark):
    """Index-lifecycle purge: deleting vec_ids from the codes table must
    (a) leave it bit-identical to a one-shot encode of the SURVIVING
    corpus under the frozen model, (b) rewrite only the affected cluster
    partitions (untouched partition files byte-identical), (c) drop a
    fully-emptied cluster's partition instead of leaving a stale dir,
    and (d) leave ivfpq_topk_from_index running unchanged."""
    from is3107datapipelineproject_spark.operators.clustering import (
        assign_to_centroids,
    )
    from is3107datapipelineproject_spark.operators.pq import (
        ivfpq_topk_from_index,
        pq_encode,
    )
    from is3107datapipelineproject_spark.plans.indexes import (
        ann_appended_index_tables,
        ann_index_delete,
    )
    from is3107datapipelineproject_spark.sources.tables import load_table

    # rebuild from scratch: sibling tests append SYNTHETIC vectors into
    # the canonical ivfpqa codes table (ids ≥ 500), so reuse would break
    # the encode-of-embeddings comparison below
    probe = ann_appended_index_tables(spark, SF)
    prefix = probe["codes"].removesuffix("_codes")
    for t in (*probe.values(), f"{prefix}_ready"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    tabs = ann_appended_index_tables(spark, SF)
    emb = load_table(spark, SF, "embeddings")
    codes = spark.table(tabs["codes"])
    # pick one cluster to WIPE entirely + a handful of ids elsewhere
    some = codes.select("vec_id", "cluster").distinct().collect()
    by_cluster = {}
    for r in some:
        by_cluster.setdefault(r.cluster, []).append(r.vec_id)
    wipe_cluster = min(by_cluster, key=lambda c: len(by_cluster[c]))
    other_cluster = max(by_cluster, key=lambda c: len(by_cluster[c]))
    victims = set(by_cluster[wipe_cluster]) | set(sorted(by_cluster[other_cluster])[:3])
    untouched = [
        c for c in by_cluster if c not in (wipe_cluster, other_cluster)
    ]
    assert untouched, "need at least one untouched cluster for the stability check"

    before_files = _edges_files(spark, tabs["codes"])
    n_aff = ann_index_delete(
        spark, tabs, spark.createDataFrame([(v,) for v in victims], "vec_id long")
    )
    assert n_aff == 2

    surv = emb.filter(~F.col("vec_id").isin([int(v) for v in victims]))
    cb = spark.table(tabs["codebook"])
    cents = spark.table(tabs["centroids"])
    want = {
        (r.vec_id, r.sub, r.code, r.cluster)
        for r in pq_encode(surv, "vec_id", "embedding", m=8, k=16, codebook=cb)
        .join(
            assign_to_centroids(surv, "vec_id", "embedding", cents).select(
                "vec_id", "cluster"
            ),
            "vec_id",
        )
        .collect()
    }
    got = {
        (r.vec_id, r.sub, r.code, r.cluster)
        for r in spark.table(tabs["codes"]).collect()
    }
    assert got == want and len(got) > 0
    # wiped cluster's partition is gone (no stale dir resurrecting codes)
    assert not any(r.cluster == wipe_cluster for r in spark.table(tabs["codes"]).select("cluster").distinct().collect())
    parts = [str(r[0]) for r in spark.sql(f"SHOW PARTITIONS {tabs['codes']}").collect()]
    assert not any(f"cluster={wipe_cluster}" in p for p in parts)
    # untouched cluster partitions were not rewritten
    after_files = _edges_files(spark, tabs["codes"])
    ub = {k: v for k, v in before_files.items() if any(f"cluster={c}/" in k for c in untouched)}
    ua = {k: v for k, v in after_files.items() if any(f"cluster={c}/" in k for c in untouched)}
    assert ub == ua and ub, "untouched partitions were rewritten"
    # idempotent outright: re-deleting removes nothing
    assert ann_index_delete(
        spark, tabs, spark.createDataFrame([(v,) for v in victims], "vec_id long")
    ) == 0
    # the query path runs unchanged over the purged index
    q = emb.filter(F.col("vec_id") < 3)
    assert ivfpq_topk_from_index(spark, tabs, q, "vec_id", "embedding", topn=5).count() > 0
    # restore canonical artifacts for other tests: drop the MARKER too,
    # or the builder would latch the dropped tables as complete
    for t in (*tabs.values(), f"{prefix}_ready"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_edge_table_retract_matches_scratch_and_compaction(spark):
    """Arc retraction (negative-arc append) == scratch build on the
    surviving orders, exactly — through the merge-on-read view AND
    through compaction (which physically reclaims the negative partials
    and stores only strictly-positive weights)."""
    from is3107datapipelineproject_spark.plans.indexes import (
        _write_pb_bucketed,
        compact_arc_table,
        copurchase_edge_arcs,
        edge_table_retract,
        merged_edge_norm,
    )
    from is3107datapipelineproject_spark.plans.layout import _sweep_stale_location
    from is3107datapipelineproject_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    table = "retract_arcs_test"
    for t in (table, f"{table}_touched", f"{table}_ready", f"{table}__compacting"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _sweep_stale_location(spark, t)
    _write_pb_bucketed(copurchase_edge_arcs(li), table, 16)

    deleted = li.filter(F.col("l_orderkey") % 13 == 2)
    assert deleted.count() > 0
    edge_table_retract(
        spark, table, deleted, compact_max_files=None, compact_delta_frac=None
    )
    surv = li.filter(F.col("l_orderkey") % 13 != 2)
    a = copurchase_edge_arcs(surv)
    m = a.groupBy("src", "dst").agg(F.sum("w").cast("long").alias("w")).filter(
        F.col("w") > 0
    )
    ow = m.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    want = {
        (r.src, r.dst, r.w, r.ow)
        for r in m.join(ow, "src").select("src", "dst", "w", "ow").collect()
    }
    got = {(r.src, r.dst, r.w, r.ow) for r in merged_edge_norm(spark, table).collect()}
    assert got == want and len(got) > 0

    # compaction reclaims the negative partials: view unchanged, stored
    # arcs strictly positive, and the retracted rows are really gone
    compact_arc_table(spark, table, n_buckets=16)
    got2 = {(r.src, r.dst, r.w, r.ow) for r in merged_edge_norm(spark, table).collect()}
    assert got2 == want
    assert spark.table(table).filter(F.col("w") <= 0).count() == 0
    for t in (table, f"{table}_touched", f"{table}_ready", f"{table}__compacting", f"{table}_compactmeta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_edge_retract_empties_pb_partition_in_edges_twin(spark):
    """Full retraction of everything in a pb partition: the incremental
    edges refresh must DROP the emptied partition (dynamic overwrite
    cannot write an empty one; a stale dir would resurrect its edges)."""
    from is3107datapipelineproject_spark.plans.indexes import (
        _renorm_incremental_tables,
        _refresh_edges_from_arcs,
        _write_pb_bucketed,
        copurchase_edge_arcs,
        edge_table_retract,
    )
    from is3107datapipelineproject_spark.plans.layout import _sweep_stale_location

    li0 = spark.createDataFrame(
        [(7, 101), (7, 102)], "l_orderkey long, l_partkey long"
    )
    arc, edges = "retract_pb_arcs_test", "retract_pb_edges_test"
    for t in (arc, edges, f"{arc}_touched", f"{arc}_ready"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _sweep_stale_location(spark, t)
    _write_pb_bucketed(copurchase_edge_arcs(li0), arc, 4)
    _refresh_edges_from_arcs(spark, arc, edges, n_buckets=4)
    assert spark.table(edges).count() == 2  # both arc directions

    edge_table_retract(
        spark, arc, li0, n_buckets=4, compact_max_files=None, compact_delta_frac=None
    )
    _renorm_incremental_tables(spark, arc, edges, 4)
    assert spark.table(edges).count() == 0
    parts = [str(r[0]) for r in spark.sql(f"SHOW PARTITIONS {edges}").collect()]
    assert parts == [], parts
    for t in (arc, edges, f"{arc}_touched", f"{arc}_ready"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
