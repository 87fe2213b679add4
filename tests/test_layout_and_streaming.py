"""Physical-layout (plans/) and Structured Streaming (streaming/) tests:
partition pruning visible in the plan, clustering order on disk, delete/
upsert rewrites, and stream-equals-batch for the windowed aggregates."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.plans import layout as L
from is3107datapipelineproject_spark.streaming import windows as W
from tests.conftest import SF_SMOKE


def _pubs_like(spark):
    """publications-shaped frame from orders: (paper_key, year, category)."""
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    return o.select(
        F.concat(F.lit("conf/o/"), F.col("o_orderkey").cast("string")).alias("paper_key"),
        F.year("o_orderdate").cast("int").alias("year"),
        F.col("o_orderpriority").alias("category"),
        F.col("o_totalprice").alias("payload"),
    )


def test_partitioned_write_prunes_and_clusters(spark, tmp_path):
    path = str(tmp_path / "pub_by_year_and_category")
    df = _pubs_like(spark)
    L.write_partitioned(df, path, ("year", "category"), ("paper_key",))

    # O1: the point-lookup scan must prune partitions at plan time
    back = L.read_partitioned(spark, path)
    q = back.filter((F.col("year") == 1998) & (F.col("category") == "1-URGENT"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "year" in plan.split("PartitionFilters")[1][:200]
    expected = df.filter((F.col("year") == 1998) & (F.col("category") == "1-URGENT")).count()
    assert q.count() == expected > 0

    # O2: rows inside each parquet file are clustered by paper_key
    some_file = sorted(glob.glob(f"{path}/year=*/category=*/*.parquet"))[0]
    keys = pq.read_table(some_file, columns=["paper_key"])["paper_key"].to_pylist()
    assert keys == sorted(keys) and len(keys) > 1

    # layout round-trip is lossless
    assert back.count() == df.count()


def test_delete_by_key_and_insert_only_upsert(spark):
    table = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    doomed = spark.createDataFrame([(2,)], ["k"])
    left = {r.k for r in L.delete_by_key(table, doomed, "k").collect()}
    assert left == {1, 3}

    incoming = spark.createDataFrame([(3, "SHOULD_NOT_REPLACE"), (4, "d")], ["k", "v"])
    up = {r.k: r.v for r in L.insert_only_upsert(table, incoming, "k").collect()}
    assert up == {1: "a", 2: "b", 3: "c", 4: "d"}  # ST4: matched key keeps old row


def test_csv_single_and_run_marker(spark, tmp_path):
    path = str(tmp_path / "watermark")
    L.write_csv_single(L.run_marker(spark, "2020/3/4"), path)
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    assert len(files) == 1  # single-file control-plane output
    got = spark.read.csv(path, header=True).collect()
    assert got[0].timestamp == "2020/3/4"
    assert L.connectivity_probe(spark)


def test_log_table_appends(spark, tmp_path):
    root = str(tmp_path / "catalog")
    row = spark.createDataFrame([("2020/3/4", 1, 2)], ["timestamp", "total_new", "total_unique"])
    L.write_log_table(row, root, "volume_update")
    L.write_log_table(row, root, "volume_update")
    assert spark.read.parquet(f"{root}/volume_update").count() == 2


def test_stream_equals_batch_tumbling(spark, tmp_path):
    """The SAME tumbling_counts transformation over a file stream
    (availableNow, complete mode) must equal the batch twin."""
    import shutil

    events_dir = tmp_path / "events_staging"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")
    stream = W.events_stream(spark, str(events_dir))
    assert stream.isStreaming
    agg = W.tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from is3107datapipelineproject_spark.sources.tables import load_table

    batch = W.tumbling_counts(load_table(spark, SF_SMOKE, "events"))
    got = {
        (r.window_start, r.event_type): (r.cnt, r.total_value)
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {(r.window_start, r.event_type): (r.cnt, r.total_value) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_equals_batch_session_window(spark, tmp_path):
    """session_counts (native F.session_window) over a file stream in
    complete mode must equal its batch twin — the stateful-session
    construct behaves identically in both execution modes."""
    import shutil

    events_dir = tmp_path / "events_sessions"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")
    stream = W.session_counts(W.events_stream(spark, str(events_dir)))
    q = (
        stream.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from is3107datapipelineproject_spark.sources.tables import load_table

    batch = W.session_counts(load_table(spark, SF_SMOKE, "events"))
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM session_test").collect()
    }
    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events) for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stateful_user_totals(spark, tmp_path):
    """applyInPandasWithState running totals: after processing every
    micro-batch, the LAST update per user equals the batch aggregate
    (state carries across batches — split input into 2 files so more
    than one micro-batch runs)."""
    from is3107datapipelineproject_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events").select("user_id", "ts_ns", "value")
    events_dir = tmp_path / "events_split"
    # split by TIME so the same users appear in both micro-batches —
    # their state must carry across batches
    mid = events.approxQuantile("ts_ns", [0.5], 0.0)[0]
    events.filter(F.col("ts_ns") <= mid).write.parquet(str(events_dir / "f0.parquet"))
    events.filter(F.col("ts_ns") > mid).write.parquet(str(events_dir / "f1.parquet"))

    stream = (
        spark.readStream.schema("user_id LONG, ts_ns LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(events_dir / "*"))
    )
    q = (
        W.stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName("stateful_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # running totals are monotone, so the FINAL state per user is the max
    # update (memory-sink row order is not batch-ordered)
    updates = spark.sql("SELECT * FROM stateful_totals").collect()
    per_user: dict[int, list] = {}
    final = {}
    for r in updates:
        per_user.setdefault(r.user_id, []).append(r)
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.total_value)
    # same users in both batches -> at least one user has 2 updates
    assert max(len(v) for v in per_user.values()) >= 2
    want = {
        r.user_id: (r.cnt, r.total)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(final) == set(want)
    for u in want:
        assert final[u][0] == want[u][0]
        assert abs(final[u][1] - want[u][1]) < 1e-6


def test_foreach_batch_merge_cdc(spark, tmp_path):
    """ST2 as a stream sink: three-cache diff applied per micro-batch."""
    known_path = str(tmp_path / "unique_cache")
    spark.createDataFrame([(1, "old"), (2, "old")], ["event_id", "v"]).write.parquet(known_path)

    spark.createDataFrame([(2, "new"), (3, "new")], ["event_id", "v"]).write.parquet(
        str(tmp_path / "incoming")
    )
    stream = (
        spark.readStream.schema("event_id LONG, v STRING")
        .parquet(str(tmp_path / "incoming"))
    )
    q = (
        stream.writeStream.foreachBatch(W.foreach_batch_merge(known_path, "event_id"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    merged = {r.event_id: r.v for r in spark.read.parquet(known_path).collect()}
    # J2 deletes 1 (not re-seen), ST4 keeps 2 as "old", J1 inserts 3
    assert merged == {2: "old", 3: "new"}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dedup_keys over a DOUBLED input (same file staged twice → two
    micro-batches of pure duplicates) must converge to the batch
    distinct: the state store carries seen keys across micro-batches."""
    import shutil

    events_dir = tmp_path / "events_dup"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-1.parquet")

    deduped = W.dedup_keys(W.events_stream(spark, str(events_dir)))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.awaitTermination(120)

    from is3107datapipelineproject_spark.sources.tables import load_table

    got = [(r.user_id, r.event_type) for r in spark.sql("SELECT * FROM dedup_test").collect()]
    want = {
        (r.user_id, r.event_type)
        for r in W.dedup_keys(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert len(got) == len(set(got))  # no key emitted twice despite doubled input
    assert set(got) == want and len(want) > 0


def test_stream_stream_interval_join(spark, tmp_path):
    """click_purchase_attribution as a true stream-stream join (both
    sides watermarked, range-bounded state) must equal the batch twin."""
    import shutil

    events_dir = tmp_path / "events_ss"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")

    clicks = W.events_stream(spark, str(events_dir)).filter(F.col("event_type") == "click")
    purchases = W.events_stream(spark, str(events_dir)).filter(F.col("event_type") == "purchase")
    joined = W.click_purchase_attribution(clicks, purchases)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssjoin"))
        .start()
    )
    q.awaitTermination(120)

    from is3107datapipelineproject_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    batch = W.click_purchase_attribution(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )
    got = {(r.click_id, r.purchase_id) for r in spark.sql("SELECT * FROM ss_join_test").collect()}
    want = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with NO Exchange — the co-located-join layout for
    100 TB fact⋈fact. A bucket-local Sort remains (Spark 4 dropped the
    sorted-bucket-scan ordering guarantee); it is memory-bounded per
    bucket and spill-free, unlike the shuffle it replaces."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}/bucketdb'")
    try:
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select("o_orderkey", "o_orderpriority")
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select("l_orderkey", "l_quantity")
        L.write_bucketed(o.withColumnRenamed("o_orderkey", "k"), "bucketdb.orders_b", "k", 4)
        L.write_bucketed(li.withColumnRenamed("l_orderkey", "k"), "bucketdb.lineitem_b", "k", 4)

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bucketdb.lineitem_b").join(
                spark.table("bucketdb.orders_b"), "k"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_runtime_bloom_filter_injection(spark):
    """Row-level runtime filtering: a selective dim-side filter must
    inject a bloom filter into the fact scan side of a shuffled join
    (the 100 TB pre-shuffle row pruning lever). Size thresholds are
    lowered because local testdata is tiny; at cluster scale the
    defaults (10 GB application side) gate it to genuinely large scans."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "might_contain" in plan or "bloom" in plan
        # bloom filter is pruning-only: result matches the plain join
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plain = li.join(o, li.l_orderkey == o.o_orderkey)
        assert j.count() == plain.count() > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_overwrite_touches_only_changed(spark, tmp_path):
    """O1 incremental rewrite: overwrite_touched_partitions must replace
    ONLY the partition directories present in the incoming frame — every
    other partition keeps its exact files (names + mtimes), which is the
    difference between rewriting a week and rewriting the table."""
    path = str(tmp_path / "pub_incremental")
    df = _pubs_like(spark)
    L.write_partitioned(df, path, ("year", "category"), ("paper_key",))

    def listing():
        return {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(f"{path}/year=*/category=*/*.parquet")
        }

    before = listing()
    touched = ("year=1998/category=1-URGENT", "year=1998/category=5-LOW")
    delta = (
        df.filter((F.col("year") == 1998) & F.col("category").isin("1-URGENT", "5-LOW"))
        .withColumn("payload", F.col("payload") * 2)
    )
    assert delta.count() > 0
    L.overwrite_touched_partitions(delta, path, ("year", "category"), ("paper_key",))
    after = listing()

    untouched_before = {f: m for f, m in before.items() if not any(t in f for t in touched)}
    untouched_after = {f: m for f, m in after.items() if not any(t in f for t in touched)}
    assert untouched_before == untouched_after  # same files, same mtimes

    # touched partitions were actually replaced with the new payloads
    back = L.read_partitioned(spark, path)
    new_sum = back.filter(
        (F.col("year") == 1998) & (F.col("category") == "1-URGENT")
    ).agg(F.sum("payload")).collect()[0][0]
    old_sum = df.filter(
        (F.col("year") == 1998) & (F.col("category") == "1-URGENT")
    ).agg(F.sum("payload") * 2).collect()[0][0]
    assert abs(new_sum - old_sum) < 1e-6
    assert back.count() == df.count()  # row-for-row replacement, no loss


def test_sharded_export_balanced_and_stable(spark, tmp_path):
    path = str(tmp_path / "corpus_shards")
    df = spark.range(2000).withColumnRenamed("id", "doc_id").withColumn(
        "payload", F.md5(F.col("doc_id").cast("string"))
    )
    L.write_sharded(df, path, id_col="doc_id", n_shards=8)
    dirs = sorted(os.path.basename(p) for p in glob.glob(os.path.join(path, "shard_id=*")))
    assert dirs == [f"shard_id={i}" for i in range(8)]
    # each shard directory holds exactly one data file (one task per shard)
    for d in dirs:
        files = glob.glob(os.path.join(path, d, "*.parquet"))
        assert len(files) == 1
    back = spark.read.parquet(path)
    assert back.count() == 2000
    # shard membership is content-hashed: a re-export from a differently
    # partitioned frame lands every row in the same shard
    path2 = str(tmp_path / "corpus_shards_2")
    L.write_sharded(df.repartition(13), path2, id_col="doc_id", n_shards=8)
    a = {r["doc_id"]: r["shard_id"] for r in back.select("doc_id", "shard_id").collect()}
    b = {r["doc_id"]: r["shard_id"]
         for r in spark.read.parquet(path2).select("doc_id", "shard_id").collect()}
    assert a == b


def test_funnel_state_stream_matches_batch(spark, tmp_path):
    """Streaming funnel (applyInPandasWithState) == batch events_funnel:
    final state per user after all micro-batches must pick exactly the
    same view/click/purchase events as the batch query (micros-for-
    micros), with state carried across two time-split batches."""
    from is3107datapipelineproject_spark.sources.tables import load_table
    from is3107datapipelineproject_spark.workload.registry import queries

    events = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts_ns", "event_type"
    )
    events_dir = tmp_path / "funnel_split"
    mid = events.approxQuantile("ts_ns", [0.5], 0.0)[0]
    events.filter(F.col("ts_ns") <= mid).write.parquet(str(events_dir / "f0.parquet"))
    events.filter(F.col("ts_ns") > mid).write.parquet(str(events_dir / "f1.parquet"))

    stream = (
        spark.readStream.schema("user_id LONG, ts_ns LONG, event_type STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(events_dir / "*"))
    )
    q = (
        W.funnel_state(stream)
        .writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = {}
    for r in spark.sql("SELECT * FROM funnel_stream").collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_updates > cur.n_updates:
            final[r.user_id] = r
    got = {
        u: (r.view_us, r.click_us, r.purchase_us, r.funnel_depth)
        for u, r in final.items()
    }

    def us(ts):
        return None if ts is None else int(ts.timestamp() * 1_000_000)

    batch = queries()["events_funnel"](spark, SF_SMOKE).collect()
    want = {
        r.user_id: (us(r.view_ts), us(r.click_ts), us(r.purchase_ts), r.funnel_depth)
        for r in batch
    }
    assert set(got) == set(want) and len(want) > 0
    mismatches = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_jsonl_shard_export_roundtrip(spark, tmp_path):
    """JSONL export: shard directories line up with write_sharded's
    (same content-hash membership), files are real JSON lines, and the
    frame round-trips losslessly through the text format."""
    import gzip, json

    path = str(tmp_path / "jsonl_shards")
    df = spark.range(500).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.concat(F.lit("doc "), F.col("doc_id").cast("string"))
    )
    L.write_jsonl_shards(df, path, id_col="doc_id", n_shards=4)
    dirs = sorted(os.path.basename(p) for p in glob.glob(os.path.join(path, "shard_id=*")))
    assert dirs == [f"shard_id={i}" for i in range(4)]
    files = glob.glob(os.path.join(path, "shard_id=0", "*.json.gz"))
    assert len(files) == 1
    with gzip.open(files[0], "rt") as fh:
        first = json.loads(fh.readline())
    assert set(first) == {"doc_id", "text"}
    back = spark.read.json(path)
    assert back.count() == 500
    assert {r.doc_id for r in back.select("doc_id").collect()} == set(range(500))
    # same membership as the parquet shard export
    ppath = str(tmp_path / "parquet_shards")
    L.write_sharded(df, ppath, id_col="doc_id", n_shards=4)
    a = {r.doc_id: r.shard_id for r in back.select("doc_id", "shard_id").collect()}
    b = {r.doc_id: r.shard_id
         for r in spark.read.parquet(ppath).select("doc_id", "shard_id").collect()}
    assert a == b


def test_funnel_state_survives_checkpoint_restart(spark, tmp_path):
    """Exactly-once state recovery: drain batch 1, STOP the query, start
    a NEW query on the same checkpoint after more files arrive — the
    file source must skip already-processed files, the state store must
    restore every user's funnel progress, and the final state must match
    the batch query bit-for-bit. This is the crash/redeploy cycle of a
    production ingest stream."""
    from is3107datapipelineproject_spark.sources.tables import load_table
    from is3107datapipelineproject_spark.streaming import windows as W
    from is3107datapipelineproject_spark.workload.registry import queries

    events = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts_ns", "event_type"
    )
    events_dir = tmp_path / "restart_events"
    out_dir = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")
    mid = events.approxQuantile("ts_ns", [0.5], 0.0)[0]
    events.filter(F.col("ts_ns") <= mid).write.parquet(str(events_dir / "f0.parquet"))

    def drain():
        stream = (
            spark.readStream.schema("user_id LONG, ts_ns LONG, event_type STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(events_dir / "*"))
        )
        q = (
            W.funnel_state(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # run 1: only the first half exists
    events.filter(F.col("ts_ns") > mid).write.parquet(str(events_dir / "f1.parquet"))
    drain()  # run 2: NEW query, same checkpoint — state restored

    final = {}
    for r in spark.read.parquet(out_dir).collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_updates > cur.n_updates:
            final[r.user_id] = r
    got = {
        u: (r.view_us, r.click_us, r.purchase_us, r.funnel_depth)
        for u, r in final.items()
    }

    def us(ts):
        return None if ts is None else int(ts.timestamp() * 1_000_000)

    batch = queries()["events_funnel"](spark, SF_SMOKE).collect()
    want = {
        r.user_id: (us(r.view_ts), us(r.click_ts), us(r.purchase_ts), r.funnel_depth)
        for r in batch
    }
    assert set(got) == set(want) and len(want) > 0
    mismatches = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_neardup_ingest_sink_matches_batch_incremental(spark, tmp_path):
    """Streaming ingest dedup == batch incremental_neardup: drain two
    document micro-batches through the foreachBatch sink; batch 2's
    pairs against the persisted signature table must equal the batch
    operator run with batch 1 as the corpus, and the signature table
    must hold every doc's 4 bands (hashed exactly once, at ingest)."""
    from is3107datapipelineproject_spark.operators import dedup as D
    from is3107datapipelineproject_spark.streaming.windows import neardup_ingest_sink

    b1 = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely unrelated text about distributed query processing"),
        (3, "a third document with its own distinctive wording throughout"),
    ]
    b2 = [
        (11, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 1
        (12, "a third document with its own distinctive wording throughout today"),  # near 3
        (13, "fresh content that matches nothing in the existing corpus"),
    ]
    docs_dir = tmp_path / "ingest_docs"
    spark.createDataFrame(b1, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(docs_dir / "f0.parquet")
    )
    spark.createDataFrame(b2, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(docs_dir / "f1.parquet")
    )
    sig_dir = str(tmp_path / "sig_table")
    pairs_dir = str(tmp_path / "pairs_out")

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            neardup_ingest_sink(sig_dir, pairs_dir, threshold=0.7)
        )
        .option("checkpointLocation", str(tmp_path / "ingest_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.new_id, r.old_id, r.jaccard)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    want = {
        (r.new_id, r.old_id, r.jaccard)
        for r in D.incremental_neardup(
            spark.createDataFrame(b1, ["doc_id", "text"]),
            spark.createDataFrame(b2, ["doc_id", "text"]),
            "text",
            "doc_id",
            threshold=0.7,
        ).collect()
    }
    assert got == want and (11, 1, 1.0) in got
    # signature table: 4 bands per ingested doc, every doc present
    sig = spark.read.parquet(sig_dir)
    assert sig.count() == 4 * 6
    assert {r.doc_id for r in sig.select("doc_id").distinct().collect()} == {1, 2, 3, 11, 12, 13}

    # at-least-once replay: re-running batch 1 (same data, same batch_id)
    # must leave the persisted corpus AND the emitted pairs bit-identical
    # — the batch=<id> overwrite plus the strictly-earlier corpus filter
    # make the sink idempotent per batch.
    neardup_ingest_sink(sig_dir, pairs_dir, threshold=0.7)(
        spark.createDataFrame(b2, ["doc_id", "text"]), 1
    )
    assert {
        (r.new_id, r.old_id, r.jaccard)
        for r in spark.read.parquet(pairs_dir).collect()
    } == want
    assert spark.read.parquet(sig_dir).count() == 4 * 6


def test_hist_ingest_sink_equals_global_histogram(spark, tmp_path):
    """Streamed sketch == batch global: drain two value micro-batches
    through the append-only histogram sink; the merged-on-read sketch
    must equal hist_build over the union, bit-for-bit, and quantiles
    read off it must match too."""
    from is3107datapipelineproject_spark.operators.sketches import hist_build, hist_quantiles
    from is3107datapipelineproject_spark.streaming.windows import hist_ingest_sink, hist_read

    b1 = [(i, float(900 + 17 * i)) for i in range(300)]
    b2 = [(1000 + i, float(2500 + 23 * i)) for i in range(300)]
    vals_dir = tmp_path / "vals"
    spark.createDataFrame(b1, ["k", "v"]).coalesce(1).write.parquet(str(vals_dir / "f0.parquet"))
    spark.createDataFrame(b2, ["k", "v"]).coalesce(1).write.parquet(str(vals_dir / "f1.parquet"))
    sketch_dir = str(tmp_path / "sketch")

    stream = (
        spark.readStream.schema("k LONG, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(vals_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(hist_ingest_sink(sketch_dir, "v"))
        .option("checkpointLocation", str(tmp_path / "hist_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = hist_read(spark, sketch_dir)
    global_sk = hist_build(spark.createDataFrame(b1 + b2, ["k", "v"]), "v")
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, global_sk.collect()))
    qa = {r["q"]: r["est_upper"] for r in hist_quantiles(streamed, [0.5, 0.9]).collect()}
    qb = {r["q"]: r["est_upper"] for r in hist_quantiles(global_sk, [0.5, 0.9]).collect()}
    assert qa == qb

    # at-least-once replay: rewriting batch 1's partial (same data,
    # same id) must leave the merged sketch unchanged — the batch=<id>
    # overwrite makes the partial log idempotent per batch.
    pre_replay = sorted(map(tuple, streamed.collect()))
    hist_ingest_sink(sketch_dir, "v")(spark.createDataFrame(b2, ["k", "v"]), 1)
    assert sorted(map(tuple, hist_read(spark, sketch_dir).collect())) == pre_replay

    # compaction: the partial log (2 triggers of partials) collapses to
    # one row per bin; the merged sketch is bit-identical post-compaction
    from is3107datapipelineproject_spark.streaming.windows import hist_compact

    before = sorted(map(tuple, streamed.collect()))
    n_partials = spark.read.parquet(sketch_dir).count()
    n_bins = hist_compact(spark, sketch_dir)
    assert n_bins < n_partials, "compaction must shrink the partial log"
    assert spark.read.parquet(sketch_dir).count() == n_bins
    assert sorted(map(tuple, hist_read(spark, sketch_dir).collect())) == before


def test_prefix_ingest_sink_matches_batch_incremental(spark, tmp_path):
    """EXACT-tier streaming ingest dedup == batch
    incremental_prefix_jaccard: two document micro-batches through the
    prefix-postings foreachBatch sink; batch 2's pairs against the
    PERSISTED (fixed-order) postings must equal the batch operator run
    with batch 1 as corpus — both tiers' filters are lossless and the
    verify is exact, so the different token ORDERS (fixed vs
    df-rarest) must not change a single pair. Postings table must hold
    a prefix (never the full set) per doc."""
    from is3107datapipelineproject_spark.operators import dedup as D
    from is3107datapipelineproject_spark.streaming.windows import prefix_ingest_sink

    b1 = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely unrelated text about distributed query processing"),
        (3, "a third document with its own distinctive wording throughout"),
    ]
    b2 = [
        (11, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 1
        (12, "a third document with its own distinctive wording throughout today"),  # near 3
        (13, "fresh content that matches nothing in the existing corpus"),
    ]
    docs_dir = tmp_path / "pfx_docs"
    spark.createDataFrame(b1, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(docs_dir / "f0.parquet")
    )
    spark.createDataFrame(b2, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(docs_dir / "f1.parquet")
    )
    postings_dir = str(tmp_path / "pfx_postings")
    sets_dir = str(tmp_path / "pfx_sets")
    pairs_dir = str(tmp_path / "pfx_pairs")

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            prefix_ingest_sink(postings_dir, sets_dir, pairs_dir, threshold=0.7)
        )
        .option("checkpointLocation", str(tmp_path / "pfx_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.new_id, r.old_id, r.jaccard)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    want = {
        (r.new_id, r.old_id, r.jaccard)
        for r in D.incremental_prefix_jaccard(
            spark.createDataFrame(b1, ["doc_id", "text"]),
            spark.createDataFrame(b2, ["doc_id", "text"]),
            "text",
            "doc_id",
            threshold=0.7,
        ).collect()
    }
    assert got == want and (11, 1, 1.0) in got

    # at-least-once replay of batch 1: postings/sets/pairs must all be
    # bit-identical afterwards (exact-tier contract survives retries).
    n_postings = spark.read.parquet(postings_dir).count()
    n_sets = spark.read.parquet(sets_dir).count()
    prefix_ingest_sink(postings_dir, sets_dir, pairs_dir, threshold=0.7)(
        spark.createDataFrame(b2, ["doc_id", "text"]), 1
    )
    assert {
        (r.new_id, r.old_id, r.jaccard)
        for r in spark.read.parquet(pairs_dir).collect()
    } == want
    assert spark.read.parquet(postings_dir).count() == n_postings
    assert spark.read.parquet(sets_dir).count() == n_sets

    # compaction of the quiesced posting log: batch partials collapse to
    # one batch=<max> partition, merge-on-read contents bit-identical,
    # file count drops, and the max id keeps the strictly-earlier corpus
    # filter of future batches correct.
    from is3107datapipelineproject_spark.plans.layout import compact_stream_dir

    before = sorted(map(tuple, spark.read.parquet(postings_dir).drop("batch").collect()))
    fb, fa = compact_stream_dir(spark, postings_dir)
    assert fa < fb, "compaction must shrink the partial log"
    after_df = spark.read.parquet(postings_dir)
    assert sorted(map(tuple, after_df.drop("batch").collect())) == before
    assert {r.batch for r in after_df.select("batch").distinct().collect()} == {1}
    # postings: every doc present, and each doc persisted a PREFIX
    # (m - ceil(tau*m) + 1 rows), never its full set
    import math

    p = spark.read.parquet(postings_dir)
    per_doc = {r.doc_id: (r.n, r.m) for r in
               p.groupBy("doc_id", "m").count().withColumnRenamed("count", "n").collect()}
    assert set(per_doc) == {1, 2, 3, 11, 12, 13}
    tau = 0.7 - 1e-4
    for doc, (n, m) in per_doc.items():
        assert n == m - math.ceil(tau * m - 1e-9) + 1, (doc, n, m)


def test_stream_equals_batch_static_enrich(spark, tmp_path):
    """nation_window_revenue — a stream-STATIC dim-enrichment join +
    tumbling revenue window — over a file stream (availableNow,
    complete mode) must equal the batch twin: the broadcast dim join is
    stateless in Structured Streaming, so no watermark/state semantics
    can diverge."""
    import shutil

    from is3107datapipelineproject_spark.sources.tables import load_table

    events_dir = tmp_path / "events_enrich"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")
    cust = load_table(spark, SF_SMOKE, "customer")
    nat = load_table(spark, SF_SMOKE, "nation")
    stream = W.nation_window_revenue(W.events_stream(spark, str(events_dir)), cust, nat)
    q = (
        stream.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = W.nation_window_revenue(load_table(spark, SF_SMOKE, "events"), cust, nat)
    got = {
        (r.window_start, r.n_name): (r.cnt, r.revenue)
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    want = {(r.window_start, r.n_name): (r.cnt, r.revenue) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_compact_stream_dir_clears_stale_tmp(spark, tmp_path):
    """A crashed prior compaction leaves <path>.compact_tmp behind; the
    next compaction must clear it rather than renaming its stale batch
    subdirs in alongside the fresh write (which would duplicate data)."""
    from is3107datapipelineproject_spark.plans.layout import compact_stream_dir

    d = str(tmp_path / "log")
    spark.createDataFrame([(1, 10)], ["k", "v"]).write.parquet(f"{d}/batch=0")
    spark.createDataFrame([(2, 20)], ["k", "v"]).write.parquet(f"{d}/batch=1")
    # stale tmp from a "crashed" earlier compaction holding OTHER data
    spark.createDataFrame([(9, 90)], ["k", "v"]).write.parquet(
        f"{d}.compact_tmp/batch=0"
    )
    compact_stream_dir(spark, d)
    rows = {(r.k, r.v) for r in spark.read.parquet(d).select("k", "v").collect()}
    assert rows == {(1, 10), (2, 20)}, rows
    assert {r.batch for r in spark.read.parquet(d).select("batch").distinct().collect()} == {1}


def test_compact_stream_dir_commit_gate(spark, tmp_path):
    """Passing checkpoint_dir ENFORCES the quiesced-committed contract:
    if the max on-disk batch is absent from the checkpoint's commits
    log, compaction must refuse (a restart would replay that batch and
    its per-batch overwrite would wipe the compacted corpus)."""
    import pytest

    from is3107datapipelineproject_spark.plans.layout import compact_stream_dir

    d = str(tmp_path / "log")
    ckpt = tmp_path / "ckpt"
    spark.createDataFrame([(1, 10)], ["k", "v"]).write.parquet(f"{d}/batch=0")
    spark.createDataFrame([(2, 20)], ["k", "v"]).write.parquet(f"{d}/batch=1")
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "0").write_text("v1\n{}")
    with pytest.raises(RuntimeError, match="not in"):
        compact_stream_dir(spark, d, checkpoint_dir=str(ckpt))
    # corpus untouched by the refusal
    assert spark.read.parquet(d).count() == 2
    (ckpt / "commits" / "1").write_text("v1\n{}")
    fb, fa = compact_stream_dir(spark, d, checkpoint_dir=str(ckpt))
    assert fa <= fb
    assert {r.batch for r in spark.read.parquet(d).select("batch").distinct().collect()} == {1}


def test_compact_stream_dir_rename_aside_recovery(spark, tmp_path):
    """The swap is rename-aside: a crash between the two renames leaves
    the full corpus at <path>.compact_old, and the next compaction run
    must restore it and proceed; a completed swap that crashed before
    deleting the aside copy must reclaim it (not merge it back in)."""
    from is3107datapipelineproject_spark.plans.layout import compact_stream_dir

    # crash state A: path missing, .compact_old holds the corpus
    d = str(tmp_path / "logA")
    spark.createDataFrame([(1, 10)], ["k", "v"]).write.parquet(f"{d}.compact_old/batch=0")
    spark.createDataFrame([(2, 20)], ["k", "v"]).write.mode("append").parquet(
        f"{d}.compact_old/batch=1"
    )
    compact_stream_dir(spark, d)
    rows = {(r.k, r.v) for r in spark.read.parquet(d).select("k", "v").collect()}
    assert rows == {(1, 10), (2, 20)}

    # crash state B: swap completed, stale .compact_old left behind —
    # superseded copy is reclaimed, contents unchanged
    import os

    d2 = str(tmp_path / "logB")
    spark.createDataFrame([(3, 30)], ["k", "v"]).write.parquet(f"{d2}/batch=0")
    spark.createDataFrame([(9, 99)], ["k", "v"]).write.parquet(f"{d2}.compact_old/batch=0")
    compact_stream_dir(spark, d2)
    assert not os.path.exists(f"{d2}.compact_old")
    assert not os.path.exists(f"{d2}.compact_tmp")
    rows2 = {(r.k, r.v) for r in spark.read.parquet(d2).select("k", "v").collect()}
    assert rows2 == {(3, 30)}


def test_sinks_fail_loudly_on_orphaned_compaction(spark, tmp_path):
    """A missing corpus dir with a .compact_tmp/.compact_old sibling is
    a crashed compaction, NOT a cold start: the ingest sinks must raise
    (continuing would silently rebuild an empty corpus) and
    assert_stream_dir_healthy names the recovery."""
    import pytest

    from is3107datapipelineproject_spark.plans.layout import assert_stream_dir_healthy
    from is3107datapipelineproject_spark.streaming.windows import neardup_ingest_sink

    sig_dir = str(tmp_path / "sigs")
    spark.createDataFrame([(1, 1)], ["a", "b"]).write.parquet(f"{sig_dir}.compact_tmp/batch=0")
    with pytest.raises(RuntimeError, match="compact"):
        assert_stream_dir_healthy(spark, sig_dir)
    batch = spark.createDataFrame([(1, "some text here")], ["doc_id", "text"])
    with pytest.raises(RuntimeError, match="compact"):
        neardup_ingest_sink(sig_dir, str(tmp_path / "pairs"))(batch, 5)
    # healthy states: dir exists, or truly-cold (no siblings) -> no raise
    assert_stream_dir_healthy(spark, str(tmp_path / "never_written"))
    spark.createDataFrame([(1, 1)], ["a", "b"]).write.parquet(sig_dir)
    assert_stream_dir_healthy(spark, sig_dir)


def test_sink_write_refuses_stranded_pair_log(spark, tmp_path):
    """Every sink batch write checks its target dir, not only the dirs
    the sink reads. A pair log stranded at ``.compact_old`` (the state a
    purge_stream_state crash mid-swap leaves) must fail the next batch:
    writing it into a fresh primary would let the next compaction see
    both copies and reclaim the aside, losing every earlier pair."""
    import pytest

    text = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id LONG, text STRING"
    sig_dir = str(tmp_path / "sp_sigs")
    pairs_dir = str(tmp_path / "sp_pairs")
    sink = W.neardup_ingest_sink(sig_dir, pairs_dir)
    sink(spark.createDataFrame([(1, text)], schema), 0)
    sink(spark.createDataFrame([(2, text)], schema), 1)
    os.rename(pairs_dir, pairs_dir + ".compact_old")

    with pytest.raises(RuntimeError, match="compact"):
        sink(spark.createDataFrame([(3, text)], schema), 2)
    assert not os.path.exists(pairs_dir)

    # the documented recovery, then the replay: no pair is lost
    L.compact_stream_dir(spark, pairs_dir)
    sink(spark.createDataFrame([(3, text)], schema), 2)
    pairs = {(r.new_id, r.old_id) for r in spark.read.parquet(pairs_dir).collect()}
    assert pairs == {(2, 1), (3, 1), (3, 2)}


def test_foreach_batch_merge_replay_after_midswap_crash(spark, tmp_path, monkeypatch):
    """foreach_batch_merge swaps the merged table in rename-aside: a
    crash between the two renames leaves the old table at
    ``.compact_old``, and replaying the batch recovers it and re-merges
    — old rows still win, nothing is taken as a cold start, and no
    sibling is left behind. A first batch on a missing table is the
    table."""
    known = str(tmp_path / "known")
    schema = "event_id LONG, v STRING"
    sink = W.foreach_batch_merge(known, "event_id")
    sink(spark.createDataFrame([(1, "old"), (2, "old")], schema), 0)
    assert {r.event_id: r.v for r in spark.read.parquet(known).collect()} == {1: "old", 2: "old"}

    real_swap = L.staged_swap

    def midswap_crash(sp, path, tmp):
        os.rename(path, path + ".compact_old")  # the aside rename happened...
        raise RuntimeError("injected mid-swap crash")  # ...the swap-in did not

    batch = spark.createDataFrame([(2, "new"), (3, "new")], schema)
    monkeypatch.setattr(L, "staged_swap", midswap_crash)
    try:
        sink(batch, 1)
        raise AssertionError("injected crash did not fire")
    except RuntimeError as e:
        assert "mid-swap" in str(e)
    monkeypatch.setattr(L, "staged_swap", real_swap)
    assert not os.path.exists(known)

    sink(batch, 1)  # at-least-once replay of the crashed batch
    merged = {r.event_id: r.v for r in spark.read.parquet(known).collect()}
    assert merged == {2: "old", 3: "new"}
    assert not os.path.exists(known + ".compact_old")
    assert not os.path.exists(known + ".compact_tmp")


def test_edit_ingest_sink_matches_batch_incremental(spark, tmp_path):
    """Edit-tier streaming ingest == batch incremental_edit_neardup:
    three title micro-batches through the foreachBatch sink; batch 3's
    pairs against the PERSISTED per-batch distinct-title corpus + key
    postings must equal the batch operator run with batches 1+2 as
    corpus — in particular the cross-batch re-collapse: a title present
    in BOTH earlier batches must come back as ONE row with the global
    min-id representative and the SUMMED group size. Then
    edit_compact_state collapses the cross-batch duplicate state and
    the NEXT batch's pairs are unchanged (merge-on-read invariance)."""
    from is3107datapipelineproject_spark.operators.dedup import (
        incremental_edit_neardup,
    )
    from is3107datapipelineproject_spark.streaming.windows import (
        edit_compact_state,
        edit_ingest_sink,
    )

    boiler = "frequently repeated boilerplate heading"  # 39 chars, long tier
    b1 = [(1, boiler), (2, boiler), (3, "hello worl"), (4, "something else wholly unrelated here")]
    b2 = [(21, boiler), (22, "short one")]
    b3 = [
        (31, boiler),                          # lev 0: rep=1, n_old=3 across b1+b2
        (32, boiler[:25] + "Z" + boiler[26:]), # lev 1 long
        (33, "hallo worl"),                    # lev 1 short vs 3
        (34, "short on"),                      # lev 1 short vs 22 (deletion)
        (35, "matches nothing in the corpus at all!"),
    ]
    docs_dir = tmp_path / "edit_docs"
    for i, b in enumerate((b1, b2, b3)):
        spark.createDataFrame(b, ["doc_id", "title"]).coalesce(1).write.parquet(
            str(docs_dir / f"f{i}.parquet")
        )
    titles_dir = str(tmp_path / "edit_titles")
    keys_dir = str(tmp_path / "edit_keys")
    pairs_dir = str(tmp_path / "edit_pairs")

    stream = (
        spark.readStream.schema("doc_id LONG, title STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(edit_ingest_sink(titles_dir, keys_dir, pairs_dir))
        .option("checkpointLocation", str(tmp_path / "edit_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got3 = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(pairs_dir).filter(F.col("batch") == 2).drop("batch").collect()
    }
    want3 = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in incremental_edit_neardup(
            spark.createDataFrame(b1 + b2, ["doc_id", "title"]),
            spark.createDataFrame(b3, ["doc_id", "title"]),
            "doc_id",
            "title",
        ).collect()
    }
    assert got3 == want3
    # the cross-batch membership row: global min-id rep, summed group
    assert (31, 1, 0, 3) in got3
    assert (34, 22, 1, 1) in got3  # short tier across batches

    # at-least-once replay of the LAST batch: pairs, titles and keys
    # must be bit-identical afterwards (overwrite-per-batch contract)
    n_titles = spark.read.parquet(titles_dir).count()
    n_keys = spark.read.parquet(keys_dir).count()
    edit_ingest_sink(titles_dir, keys_dir, pairs_dir)(
        spark.createDataFrame(b3, ["doc_id", "title"]), 2
    )
    assert {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(pairs_dir).filter(F.col("batch") == 2).drop("batch").collect()
    } == want3
    assert spark.read.parquet(titles_dir).count() == n_titles
    assert spark.read.parquet(keys_dir).count() == n_keys

    # compaction: boiler's 4 cross-batch title rows collapse to one
    # global representative; a FRESH batch then sees identical pairs
    fb, fa = edit_compact_state(spark, titles_dir, keys_dir)
    assert spark.read.parquet(titles_dir).filter(F.col("tt") == boiler).count() == 1
    row = spark.read.parquet(titles_dir).filter(F.col("tt") == boiler).first()
    assert (row.tid, row.grp) == (1, 4)  # global min id, summed size
    b4 = [(41, boiler), (42, "hello worm")]
    edit_ingest_sink(titles_dir, keys_dir, pairs_dir)(
        spark.createDataFrame(b4, ["doc_id", "title"]), 7
    )
    got4 = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(pairs_dir).filter(F.col("batch") == 7).drop("batch").collect()
    }
    want4 = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in incremental_edit_neardup(
            spark.createDataFrame(b1 + b2 + b3, ["doc_id", "title"]),
            spark.createDataFrame(b4, ["doc_id", "title"]),
            "doc_id",
            "title",
        ).collect()
    }
    assert got4 == want4 and (41, 1, 0, 4) in got4


def test_semantic_ingest_sink_matches_batch_incremental(spark, tmp_path):
    """Semantic-tier streaming ingest == batch
    incremental_semantic_neardup when the frozen centroids table is fit
    on the earlier batches' union (deterministic Lloyd is order-free):
    three vector micro-batches through the sink; batch 3's pairs must
    equal the batch operator with batches 1+2 as corpus. Replay of the
    last batch leaves pairs and members bit-identical."""
    from is3107datapipelineproject_spark.operators.clustering import (
        incremental_semantic_neardup,
        kmeans_fit,
    )
    from is3107datapipelineproject_spark.streaming.windows import semantic_ingest_sink

    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    b1 = [(1, [10.0, 0.0, 0.0]), (2, [10.0, 0.3, 0.0]), (3, [0.0, 10.0, 0.0])]
    b2 = [(11, [0.2, 10.0, 0.0]), (12, [10.0, 0.1, 0.0])]
    b3 = [(21, [10.0, 0.05, 0.0]), (22, [0.0, 10.0, 0.5]), (23, [0.0, 0.0, 9.0])]
    docs_dir = tmp_path / "sem_docs"
    for i, b in enumerate((b1, b2, b3)):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(docs_dir / f"f{i}.parquet")
        )
    cents_table = "sem_sink_cents_test"
    spark.sql(f"DROP TABLE IF EXISTS {cents_table}")
    kmeans_fit(
        spark.createDataFrame(b1 + b2, schema), "vec_id", "embedding", k=2, iters=2
    ).write.mode("overwrite").format("parquet").saveAsTable(cents_table)
    members_dir = str(tmp_path / "sem_members")
    pairs_dir = str(tmp_path / "sem_pairs")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            semantic_ingest_sink(cents_table, members_dir, pairs_dir, threshold=0.99)
        )
        .option("checkpointLocation", str(tmp_path / "sem_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got3 = {
        (r.new_id, r.old_id, r.cosine)
        for r in spark.read.parquet(pairs_dir).filter(F.col("batch") == 2).drop("batch").collect()
    }
    want3 = {
        (r.new_id, r.old_id, r.cosine)
        for r in incremental_semantic_neardup(
            spark.createDataFrame(b1 + b2, schema),
            spark.createDataFrame(b3, schema),
            "vec_id",
            "embedding",
            k=2,
            iters=2,
            threshold=0.99,
        ).collect()
    }
    assert got3 == want3 and len(got3) > 0
    assert any(n == 21 for n, _, _ in got3)       # x-cluster arrival pairs
    assert not any(n == 23 for n, _, _ in got3)   # z-axis arrival matches nothing

    # at-least-once replay: bit-identical pairs and members
    n_members = spark.read.parquet(members_dir).count()
    semantic_ingest_sink(cents_table, members_dir, pairs_dir, threshold=0.99)(
        spark.createDataFrame(b3, schema), 2
    )
    assert {
        (r.new_id, r.old_id, r.cosine)
        for r in spark.read.parquet(pairs_dir).filter(F.col("batch") == 2).drop("batch").collect()
    } == want3
    assert spark.read.parquet(members_dir).count() == n_members
    spark.sql(f"DROP TABLE IF EXISTS {cents_table}")


def _edit_state_views(spark, titles_dir, keys_dir, pairs_dir, members_dir):
    """Comparable merge-on-read views of the four edit-tier state dirs
    (titles compare COLLAPSED — a purge rewrite flattens batch layout
    by design, like compaction, so per-batch title rows are not part of
    the contract; members and pairs keep batch provenance)."""
    members = {
        (r.batch, r.doc_id, r.tt) for r in spark.read.parquet(members_dir).collect()
    }
    titles = {
        (r.tt, r.tid, r.grp)
        for r in spark.read.parquet(titles_dir)
        .drop("batch")
        .groupBy("tt")
        .agg(F.min("tid").alias("tid"), F.sum("grp").cast("long").alias("grp"))
        .collect()
    }
    keys = {
        (r.chunk, r.clen, r.sub, r.tid)
        for r in spark.read.parquet(keys_dir).drop("batch").distinct().collect()
    }
    try:
        pairs = {
            (r.batch, r.new_id, r.old_id, r.lev, r.n_old)
            for r in spark.read.parquet(pairs_dir).collect()
        }
    except Exception:
        pairs = set()
    return members, titles, keys, pairs


def test_edit_purge_state_equals_never_ingested(spark, tmp_path):
    """The purge matrix's last hole (SURVEY §5.6 called the edit-tier
    state the one impossible-from-ids-alone case): with the sink's
    member ledger and the deletion request's (id, title) pairs,
    edit_purge_state must leave every state dir as if the deleted docs
    had never been ingested. Planted hazards: doc 1 is the GLOBAL
    REPRESENTATIVE of the boilerplate group (purge must re-elect doc 2
    and decrement historical n_old per batch), doc 33 appears as a
    new_id in a pair row (row must drop), and doc 7's title group
    empties entirely (its partner's pair row must drop, and the title
    must vanish from titles/keys). Verified by mutation during
    development: skipping the pair recompute (pure row-drop) leaves
    (21,1,0,2)/(31,1,0,3) rows naming the forgotten id and fails the
    pair comparison."""
    from is3107datapipelineproject_spark.streaming.windows import (
        edit_ingest_sink,
        edit_purge_state,
    )

    boiler = "frequently repeated boilerplate heading"  # 39 chars, long tier
    b1 = [(1, boiler), (2, boiler), (5, "hello worl"), (7, "unique gone")]
    b2 = [(21, boiler), (22, "short one")]
    b3 = [(31, boiler), (33, "hallo worl"), (34, "short on"), (35, "unique gon")]
    deleted = [(1, boiler), (33, "hallo worl"), (7, "unique gone")]
    schema = "doc_id LONG, title STRING"

    def ingest(tag, batches):
        dirs = tuple(str(tmp_path / f"{tag}_{d}") for d in ("titles", "keys", "pairs", "members"))
        sink = edit_ingest_sink(*dirs)
        for i, b in enumerate(batches):
            sink(spark.createDataFrame(b, schema), i)
        return dirs

    a = ingest("full", (b1, b2, b3))
    edit_purge_state(spark, *a, spark.createDataFrame(deleted, schema))
    dids = {d for d, _ in deleted}
    b = ingest(
        "never",
        tuple([r for r in batch if r[0] not in dids] for batch in (b1, b2, b3)),
    )
    # the purge rewrite collapses titles/keys to global representatives
    # (the compacted physical form); compact the never-ingested state so
    # both sides are in canonical form — compaction is merge-on-read
    # invariant (asserted in test_edit_ingest_sink_matches_batch_incremental)
    from is3107datapipelineproject_spark.streaming.windows import edit_compact_state

    edit_compact_state(spark, b[0], b[1])
    va, vb = _edit_state_views(spark, *a), _edit_state_views(spark, *b)
    for name, xa, xb in zip(("members", "titles", "keys", "pairs"), va, vb):
        assert xa == xb, f"{name}: purged={xa - xb} never={xb - xa}"
    # the planted hazards actually fired
    _, titles, _, pairs = va
    assert (boiler, 2, 3) in titles          # representative re-elected, size decremented
    assert not any(t == "unique gone" for t, _, _ in titles)  # emptied group vanished
    assert (1, 21, 2, 0, 1) in pairs         # historical row re-pointed to doc 2
    assert (2, 31, 2, 0, 2) in pairs
    assert not any(n in dids or o in dids for _, n, o, _, _ in pairs)
    assert (2, 34, 22, 1, 1) in pairs        # untouched title bit-identical

    # forgotten stays forgotten: identical post-purge arrivals pair
    # identically in both worlds (re-elected rep, decremented group)
    b4 = [(41, boiler), (42, "unique gon")]
    for dirs in (a, b):
        edit_ingest_sink(*dirs)(spark.createDataFrame(b4, schema), 3)
    p_a = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(a[2]).filter(F.col("batch") == 3).collect()
    }
    p_b = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(b[2]).filter(F.col("batch") == 3).collect()
    }
    assert p_a == p_b
    assert (41, 2, 0, 3) in p_a and not any(o in dids for _, o, _, _ in p_a)


def test_edit_purge_crash_windows_recoverable(spark, tmp_path, monkeypatch):
    """edit_purge_state inherits the cluster tier's purge-intent
    protocol: the (id, title) set is staged before the first of the
    four rewrites and cleared after the last; the sink refuses while
    the marker exists; a crashed purge completes on the next call
    (steps idempotent, purges compose by union). Crash windows: before
    any rewrite, and between the member-ledger rewrite and the pair
    rewrite."""
    from is3107datapipelineproject_spark.streaming.windows import (
        edit_ingest_sink,
        edit_purge_state,
    )

    boiler = "frequently repeated boilerplate heading"
    b1 = [(1, boiler), (2, boiler)]
    b2 = [(21, boiler)]
    schema = "doc_id LONG, title STRING"
    real_rewrite = L.rewrite_stream_dir

    def crash_after(n_calls):
        state = {"n": 0}

        def wrapper(*args, **kw):
            if state["n"] >= n_calls:
                raise RuntimeError("injected crash")
            state["n"] += 1
            return real_rewrite(*args, **kw)

        return wrapper

    for crash_at, window in ((0, "before any rewrite"), (1, "after members, before pairs")):
        dirs = tuple(
            str(tmp_path / f"ec{crash_at}_{d}") for d in ("titles", "keys", "pairs", "members")
        )
        sink = edit_ingest_sink(*dirs)
        sink(spark.createDataFrame(b1, schema), 0)
        sink(spark.createDataFrame(b2, schema), 1)

        monkeypatch.setattr(L, "rewrite_stream_dir", crash_after(crash_at))
        try:
            edit_purge_state(spark, *dirs, spark.createDataFrame([(1, boiler)], schema))
            raise AssertionError(f"injected crash did not fire ({window})")
        except RuntimeError as e:
            assert "injected crash" in str(e)
        monkeypatch.setattr(L, "rewrite_stream_dir", real_rewrite)

        assert L.read_purge_intent(spark, dirs[0]) is not None
        try:
            sink(spark.createDataFrame([(31, boiler)], schema), 2)
            raise AssertionError("sink ingested during an incomplete purge")
        except RuntimeError as e:
            assert "purge" in str(e)

        # resume completes the staged purge (empty new request)
        edit_purge_state(
            spark, *dirs, spark.createDataFrame([], schema)
        )
        assert L.read_purge_intent(spark, dirs[0]) is None
        titles = {
            (r.tt, r.tid, r.grp)
            for r in spark.read.parquet(dirs[0]).drop("batch").collect()
        }
        assert titles == {(boiler, 2, 2)}, window  # re-elected, decremented
        pairs = {
            (r.new_id, r.old_id, r.lev, r.n_old)
            for r in spark.read.parquet(dirs[2]).collect()
        }
        assert pairs == {(21, 2, 0, 1)}, window

        sink(spark.createDataFrame([(31, boiler)], schema), 2)
        got = {
            (r.new_id, r.old_id, r.lev, r.n_old)
            for r in spark.read.parquet(dirs[2]).filter(F.col("batch") == 2).collect()
        }
        assert got == {(31, 2, 0, 2)}, window  # forgotten stays forgotten

    # third window: crash INSIDE the keys rebuild's rename swap —
    # keys_dir is gone, the aside copy holds the old keys, the marker
    # is still staged. Resume must restore the aside copy and complete.
    import os

    dirs = tuple(str(tmp_path / f"eck_{d}") for d in ("titles", "keys", "pairs", "members"))
    sink = edit_ingest_sink(*dirs)
    sink(spark.createDataFrame(b1, schema), 0)
    sink(spark.createDataFrame(b2, schema), 1)
    L.write_purge_intent(
        spark, dirs[0], spark.createDataFrame([(1, boiler)], schema).toDF("did", "dtt")
    )
    os.rename(dirs[1], dirs[1] + ".compact_old")
    edit_purge_state(spark, *dirs, spark.createDataFrame([], schema))
    assert L.read_purge_intent(spark, dirs[0]) is None
    keys_tids = {r.tid for r in spark.read.parquet(dirs[1]).collect()}
    assert keys_tids == {2}  # rebuilt from the re-elected representative
    sink(spark.createDataFrame([(31, boiler)], schema), 2)
    got = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(dirs[2]).filter(F.col("batch") == 2).collect()
    }
    assert got == {(31, 2, 0, 2)}


def test_edit_sink_cross_batch_recollapse_seams(spark, tmp_path):
    """Round-10 verdict item 6 — the cross-batch seams of the edit
    sink's re-collapse, beyond the existing two-batch case: the same
    title split across THREE batches; a later batch UNDERCUTTING an
    earlier representative id (the global min arrives last); and the
    hot boilerplate title spanning a compaction. Verified by mutation
    during development: replacing the re-collapse's F.min(old_id) with
    F.max fails the undercut case ((70,10,…) becomes (70,61,…))."""
    from is3107datapipelineproject_spark.operators.dedup import (
        incremental_edit_neardup,
    )
    from is3107datapipelineproject_spark.streaming.windows import (
        edit_compact_state,
        edit_ingest_sink,
    )

    t = "frequently repeated boilerplate heading"
    t1 = t[:25] + "Z" + t[26:]
    schema = "doc_id LONG, title STRING"
    batches = ([(50, t)], [(10, t)], [(60, t), (61, t)])  # 3-way split; 10 undercuts 50
    dirs = tuple(str(tmp_path / f"seam_{d}") for d in ("titles", "keys", "pairs", "members"))
    sink = edit_ingest_sink(*dirs)
    for i, b in enumerate(batches):
        sink(spark.createDataFrame(b, schema), i)

    # probe across all three seams: global min rep, summed group
    sink(spark.createDataFrame([(70, t), (71, t1)], schema), 3)
    got = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(dirs[2]).filter(F.col("batch") == 3).collect()
    }
    want = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in incremental_edit_neardup(
            spark.createDataFrame([r for b in batches for r in b], schema),
            spark.createDataFrame([(70, t), (71, t1)], schema),
            "doc_id",
            "title",
        ).collect()
    }
    assert got == want and (70, 10, 0, 4) in got and (71, 10, 1, 4) in got

    # the hot title spans a compaction: state collapses to one global
    # representative row and the NEXT batch re-collapses identically
    edit_compact_state(spark, dirs[0], dirs[1])
    assert spark.read.parquet(dirs[0]).filter(F.col("tt") == t).count() == 1
    sink(spark.createDataFrame([(80, t)], schema), 7)
    got7 = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(dirs[2]).filter(F.col("batch") == 7).collect()
    }
    # (80, 71, 1, 1) is the lev-1 edge to batch 3's variant title
    assert got7 == {(80, 10, 0, 5), (80, 71, 1, 1)}


def test_cluster_ingest_sink_matches_oneshot_and_compacts(spark, tmp_path):
    """Streaming label maintenance == one-shot neardup_clusters over
    the full corpus: three document micro-batches through
    cluster_ingest_sink; the merged label view must equal the one-shot
    fixpoint over all docs (including the label-DECREASE hazard — batch
    3 ships doc id 0, smaller than its cluster's existing label, so old
    rows must relabel down). Replay of the last batch and a min
    pre-merge compaction both leave the view bit-identical."""
    from is3107datapipelineproject_spark.operators.dedup import (
        minhash_neardup_pairs,
        neardup_clusters,
    )

    ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    tb = "one two three four five six seven eight nine ten eleven twelve thirteen"
    tc = "red orange yellow green blue indigo violet crimson amber teal navy plum"
    td = "solo unique text with no duplicate partner anywhere in any batch here"
    te = "another entirely distinct document that matches nothing else at all ok"
    schema = "doc_id LONG, text STRING"
    b1 = [(1, ta), (2, ta), (3, tb)]
    b2 = [(11, tb), (12, tc)]
    b3 = [(0, ta), (22, tc), (23, td)]
    docs_dir = tmp_path / "cl_docs"
    for i, b in enumerate((b1, b2, b3)):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(docs_dir / f"f{i}.parquet")
        )
    sig_dir = str(tmp_path / "cl_sigs")
    labels_dir = str(tmp_path / "cl_labels")
    ckpt = str(tmp_path / "cl_ckpt")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(W.cluster_ingest_sink(sig_dir, labels_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    alldocs = spark.createDataFrame(b1 + b2 + b3, schema)
    want = {
        (r.doc_id, r.cluster_id)
        for r in neardup_clusters(
            alldocs, minhash_neardup_pairs(alldocs, "text", "doc_id"), "doc_id"
        ).collect()
    }
    got = {
        (r.doc_id, r.cluster_id)
        for r in W.cluster_labels_read(spark, labels_dir).collect()
    }
    assert got == want
    # the planted hazards actually fired: ids {0,1,2} share label 0
    # (a DECREASE from the pre-batch-3 label 1), {3,11} share 3
    assert {(0, 0), (1, 0), (2, 0), (3, 3), (11, 3)} <= got
    assert (23, 23) in got  # edge-free arrival labels itself

    # at-least-once replay of the final batch: identical state
    W.cluster_ingest_sink(sig_dir, labels_dir)(
        spark.createDataFrame(b3, schema), 2
    )
    assert {
        (r.doc_id, r.cluster_id)
        for r in W.cluster_labels_read(spark, labels_dir).collect()
    } == want

    # min pre-merge compaction: fewer files, same view, gate honored
    before, after = W.cluster_compact_state(spark, labels_dir, checkpoint_dir=ckpt)
    assert after < before
    assert {
        (r.doc_id, r.cluster_id)
        for r in W.cluster_labels_read(spark, labels_dir).collect()
    } == want


def test_cluster_purge_state_forgets_and_future_ingest_is_clean(spark, tmp_path):
    """Right-to-be-forgotten purge of the streaming dedup state: after
    purging docs {0, 2} from the ingested corpus, the label view equals
    the one-shot over survivors (the {0,1,2} cluster collapses to the
    lone survivor 1 — a label INCREASE, the non-monotone case the purge
    rewrite exists for), the band table holds no purged ids, and a
    subsequent ingest batch with the purged text pairs ONLY against
    surviving state."""
    from is3107datapipelineproject_spark.operators.dedup import (
        minhash_neardup_pairs,
        neardup_clusters,
    )

    ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    tb = "one two three four five six seven eight nine ten eleven twelve thirteen"
    schema = "doc_id LONG, text STRING"
    b1 = [(0, ta), (1, ta), (2, ta)]
    b2 = [(3, tb), (11, tb)]
    sig_dir = str(tmp_path / "pg_sigs")
    labels_dir = str(tmp_path / "pg_labels")
    sink = W.cluster_ingest_sink(sig_dir, labels_dir)
    sink(spark.createDataFrame(b1, schema), 0)
    sink(spark.createDataFrame(b2, schema), 1)

    W.cluster_purge_state(
        spark, labels_dir, sig_dir, spark.createDataFrame([(0,), (2,)], "doc_id LONG")
    )
    surv = spark.createDataFrame([(1, ta), (3, tb), (11, tb)], schema)
    want = {
        (r.doc_id, r.cluster_id)
        for r in neardup_clusters(
            surv, minhash_neardup_pairs(surv, "text", "doc_id"), "doc_id"
        ).collect()
    }
    got = {
        (r.doc_id, r.cluster_id)
        for r in W.cluster_labels_read(spark, labels_dir).collect()
    }
    assert got == want == {(1, 1), (3, 3), (11, 3)}
    sig_ids = {r.doc_id for r in spark.read.parquet(sig_dir).select("doc_id").distinct().collect()}
    assert sig_ids == {1, 3, 11}

    # the forgotten docs stay forgotten: a post-purge arrival carrying
    # the purged text pairs only with the surviving member
    sink(spark.createDataFrame([(31, ta)], schema), 2)
    after = {
        (r.doc_id, r.cluster_id)
        for r in W.cluster_labels_read(spark, labels_dir).collect()
    }
    assert after == {(1, 1), (31, 1), (3, 3), (11, 3)}


def test_cluster_purge_crash_windows_recoverable(spark, tmp_path, monkeypatch):
    """The composite purge's crash protocol (round-10 fix): the
    deleted-id set is staged as a durable purge-intent marker BEFORE
    the labels rewrite and cleared only after the bands rewrite, so the
    previously-unrecoverable window — labels purged, bands still live —
    (a) blocks ingest (the sink refuses while the marker exists, instead
    of pairing against purged bands and resurrecting a forgotten id as
    a cluster root) and (b) completes on the next purge call, whose
    deleted set unions with the staged one (purges compose by union).
    Both crash windows are simulated: before any rewrite, and between
    the two rewrites; each resume must land on never-ingested state."""
    from is3107datapipelineproject_spark.operators.dedup import (
        minhash_neardup_pairs,
        neardup_clusters,
    )

    ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    tb = "one two three four five six seven eight nine ten eleven twelve thirteen"
    schema = "doc_id LONG, text STRING"
    b1 = [(0, ta), (1, ta), (2, ta)]
    b2 = [(3, tb), (11, tb)]

    real_compact = L.compact_stream_dir

    def crash_after(n_calls):
        state = {"n": 0}

        def wrapper(*a, **kw):
            if state["n"] >= n_calls:
                raise RuntimeError("injected crash")
            state["n"] += 1
            return real_compact(*a, **kw)

        return wrapper

    for crash_at, window in ((0, "before any rewrite"), (1, "between the rewrites")):
        sig_dir = str(tmp_path / f"pgc_sigs_{crash_at}")
        labels_dir = str(tmp_path / f"pgc_labels_{crash_at}")
        sink = W.cluster_ingest_sink(sig_dir, labels_dir)
        sink(spark.createDataFrame(b1, schema), 0)
        sink(spark.createDataFrame(b2, schema), 1)

        monkeypatch.setattr(L, "compact_stream_dir", crash_after(crash_at))
        try:
            W.cluster_purge_state(
                spark, labels_dir, sig_dir, spark.createDataFrame([(0,)], "doc_id LONG")
            )
            raise AssertionError(f"injected crash did not fire ({window})")
        except RuntimeError as e:
            assert "injected crash" in str(e)
        monkeypatch.setattr(L, "compact_stream_dir", real_compact)

        # the marker survives the crash and the ingest sink refuses
        assert L.read_purge_intent(spark, labels_dir) is not None
        try:
            sink(spark.createDataFrame([(31, ta)], schema), 2)
            raise AssertionError("sink ingested during an incomplete purge")
        except RuntimeError as e:
            assert "purge" in str(e) and labels_dir in str(e)

        # resume: a later purge request for doc 2 must ALSO complete the
        # staged purge of doc 0 (union composition)
        W.cluster_purge_state(
            spark, labels_dir, sig_dir, spark.createDataFrame([(2,)], "doc_id LONG")
        )
        assert L.read_purge_intent(spark, labels_dir) is None
        surv = spark.createDataFrame([(1, ta), (3, tb), (11, tb)], schema)
        want = {
            (r.doc_id, r.cluster_id)
            for r in neardup_clusters(
                surv, minhash_neardup_pairs(surv, "text", "doc_id"), "doc_id"
            ).collect()
        }
        got = {
            (r.doc_id, r.cluster_id)
            for r in W.cluster_labels_read(spark, labels_dir).collect()
        }
        assert got == want == {(1, 1), (3, 3), (11, 3)}, window
        sig_ids = {
            r.doc_id
            for r in spark.read.parquet(sig_dir).select("doc_id").distinct().collect()
        }
        assert sig_ids == {1, 3, 11}, window

        # ingest unblocks and the forgotten docs stay forgotten
        sink(spark.createDataFrame([(31, ta)], schema), 2)
        after = {
            (r.doc_id, r.cluster_id)
            for r in W.cluster_labels_read(spark, labels_dir).collect()
        }
        assert after == {(1, 1), (31, 1), (3, 3), (11, 3)}, window


def test_purge_stream_state_semantic_and_minhash(spark, tmp_path):
    """Generic row-removal purge over the per-row streaming state logs:
    after purging vec 2 from the semantic sink's state, the member log
    holds no purged rows, every pair NAMING the purged id is gone
    (both sides of the pair log), survivors' rows are intact, and a
    post-purge arrival pairs only against surviving members."""
    from is3107datapipelineproject_spark.operators.clustering import kmeans_fit

    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    b1 = [(1, [10.0, 0.0, 0.0]), (2, [10.0, 0.2, 0.0]), (3, [0.0, 10.0, 0.0])]
    b2 = [(11, [10.0, 0.1, 0.0]), (12, [0.0, 10.0, 0.3])]
    cents_table = "purge_sem_cents_test"
    spark.sql(f"DROP TABLE IF EXISTS {cents_table}")
    kmeans_fit(
        spark.createDataFrame(b1, schema), "vec_id", "embedding", k=2, iters=2
    ).write.mode("overwrite").format("parquet").saveAsTable(cents_table)
    members_dir = str(tmp_path / "pg_members")
    pairs_dir = str(tmp_path / "pg_pairs")
    sink = W.semantic_ingest_sink(cents_table, members_dir, pairs_dir, threshold=0.99)
    sink(spark.createDataFrame(b1, schema), 0)
    sink(spark.createDataFrame(b2, schema), 1)
    pre_pairs = {
        (r.new_id, r.old_id) for r in spark.read.parquet(pairs_dir).collect()
    }
    assert (11, 2) in pre_pairs  # the pair the purge must erase

    deleted = spark.createDataFrame([(2,)], "vec_id LONG")
    W.purge_stream_state(spark, members_dir, ("vid",), deleted)
    W.purge_stream_state(spark, pairs_dir, ("new_id", "old_id"), deleted)

    vids = {r.vid for r in spark.read.parquet(members_dir).collect()}
    assert vids == {1, 3, 11, 12}
    post_pairs = {
        (r.new_id, r.old_id) for r in spark.read.parquet(pairs_dir).collect()
    }
    assert post_pairs == {p for p in pre_pairs if 2 not in p}
    assert (11, 1) in post_pairs  # survivor pair intact

    # forgotten stays forgotten: a new arrival near the purged vector
    # pairs only with surviving members
    sink(spark.createDataFrame([(21, [10.0, 0.15, 0.0])], schema), 2)
    newp = {
        (r.new_id, r.old_id)
        for r in spark.read.parquet(pairs_dir).filter(F.col("batch") == 2).collect()
    }
    assert all(o != 2 for _, o in newp) and (21, 1) in newp
    spark.sql(f"DROP TABLE IF EXISTS {cents_table}")


def test_purge_intent_restage_and_empty_state_hardening(spark, tmp_path):
    """Round-10 review fixes, exercised end to end:

    1. restaging an existing purge-intent marker renames the old set
       ASIDE instead of deleting it — a crash between the two renames
       leaves a recoverable ``.old`` copy that read_purge_intent
       restores and assert_no_purge_intent refuses on;
    2. a purge that deletes EVERY remaining doc leaves all state dirs
       readable (schema-carrying empty files, not file-less dirs), the
       marker clears, and ingest resumes cleanly from the emptied
       corpus."""
    from is3107datapipelineproject_spark.streaming.windows import (
        edit_ingest_sink,
        edit_purge_state,
    )

    # --- 1. marker restage crash window
    sdir = str(tmp_path / "mk_state")
    L.write_purge_intent(spark, sdir, spark.createDataFrame([(1,)], "did LONG"))
    # simulate the crash inside a restage: old marker renamed aside,
    # new marker not yet in place
    import os

    os.rename(sdir + ".purge_intent", sdir + ".purge_intent.old")
    try:
        L.assert_no_purge_intent(spark, sdir, "test_sink")
        raise AssertionError("sink accepted a stranded .old marker")
    except RuntimeError as e:
        assert "purge" in str(e)
    pending = L.read_purge_intent(spark, sdir)  # restores the aside copy
    assert pending is not None and {r.did for r in pending.collect()} == {1}
    L.clear_purge_intent(spark, sdir)
    L.assert_no_purge_intent(spark, sdir, "test_sink")

    # --- 2. total purge leaves readable empty state and ingest resumes
    boiler = "frequently repeated boilerplate heading"
    schema = "doc_id LONG, title STRING"
    dirs = tuple(str(tmp_path / f"tp_{d}") for d in ("titles", "keys", "pairs", "members"))
    sink = edit_ingest_sink(*dirs)
    sink(spark.createDataFrame([(1, boiler), (2, boiler)], schema), 0)
    sink(spark.createDataFrame([(21, boiler)], schema), 1)
    everything = [(1, boiler), (2, boiler), (21, boiler)]
    edit_purge_state(spark, *dirs, spark.createDataFrame(everything, schema))
    assert L.read_purge_intent(spark, dirs[0]) is None
    for d in dirs:
        assert spark.read.parquet(d).count() == 0, d  # readable, empty
    # the emptied corpus behaves as a cold start for the next batch
    sink(spark.createDataFrame([(31, boiler)], schema), 2)
    titles = {(r.tid, r.tt, r.grp) for r in spark.read.parquet(dirs[0]).drop("batch").collect()}
    assert titles == {(31, boiler, 1)}
    pairs = spark.read.parquet(dirs[2]).filter(F.col("batch") == 2).count()
    assert pairs == 0  # no forgotten partner resurfaced


def test_edit_purge_refuses_incomplete_member_ledger(spark, tmp_path):
    """The fail-fast completeness gate: the purge derives titles/keys
    wholly from the member ledger, so a ledger that misses history
    (members_dir configured after the sink's first batch) must be
    refused BEFORE any rewrite — and with no marker staged, so ingest
    is not wedged."""
    from is3107datapipelineproject_spark.streaming.windows import (
        edit_ingest_sink,
        edit_purge_state,
    )

    boiler = "frequently repeated boilerplate heading"
    schema = "doc_id LONG, title STRING"
    dirs = tuple(str(tmp_path / f"il_{d}") for d in ("titles", "keys", "pairs", "members"))
    # batch 0 ingested WITHOUT the ledger (legacy deployment)...
    legacy = edit_ingest_sink(dirs[0], dirs[1], dirs[2])
    legacy(spark.createDataFrame([(1, boiler), (2, boiler)], schema), 0)
    # ...ledger switched on at batch 1
    sink = edit_ingest_sink(*dirs)
    sink(spark.createDataFrame([(21, boiler)], schema), 1)
    before = {(r.tid, r.tt, r.grp) for r in spark.read.parquet(dirs[0]).drop("batch").collect()}
    try:
        edit_purge_state(spark, *dirs, spark.createDataFrame([(2, boiler)], schema))
        raise AssertionError("purge accepted an incomplete member ledger")
    except ValueError as e:
        assert "ledger" in str(e)
    # state untouched, no marker staged, ingest keeps working
    assert L.read_purge_intent(spark, dirs[0]) is None
    after = {(r.tid, r.tt, r.grp) for r in spark.read.parquet(dirs[0]).drop("batch").collect()}
    assert after == before
    sink(spark.createDataFrame([(31, boiler)], schema), 2)

    # missing ledger dir entirely: same refusal
    dirs2 = tuple(str(tmp_path / f"nl_{d}") for d in ("titles", "keys", "pairs", "members"))
    legacy2 = edit_ingest_sink(dirs2[0], dirs2[1], dirs2[2])
    legacy2(spark.createDataFrame([(1, boiler)], schema), 0)
    try:
        edit_purge_state(spark, *dirs2, spark.createDataFrame([(1, boiler)], schema))
        raise AssertionError("purge accepted a missing member ledger")
    except ValueError as e:
        assert "member ledger" in str(e)


def test_edit_purge_recovers_crashed_compaction_before_gating(spark, tmp_path):
    """Round-10 second-review fix: a fresh purge is a legitimate next
    step after a compaction crashed mid-swap (state dir renamed aside),
    so the completeness gate must run recover_stale_sibling before
    reading — previously it failed with PATH_NOT_FOUND where the
    pre-gate purge auto-recovered."""
    import os

    from is3107datapipelineproject_spark.streaming.windows import (
        edit_ingest_sink,
        edit_purge_state,
    )

    boiler = "frequently repeated boilerplate heading"
    schema = "doc_id LONG, title STRING"
    dirs = tuple(str(tmp_path / f"cr_{d}") for d in ("titles", "keys", "pairs", "members"))
    sink = edit_ingest_sink(*dirs)
    sink(spark.createDataFrame([(1, boiler), (2, boiler)], schema), 0)
    sink(spark.createDataFrame([(21, boiler)], schema), 1)
    # a compaction crashed between its two renames: titles_dir is gone,
    # the aside copy IS the state
    os.rename(dirs[0], dirs[0] + ".compact_old")
    edit_purge_state(spark, *dirs, spark.createDataFrame([(1, boiler)], schema))
    titles = {
        (r.tt, r.tid, r.grp)
        for r in spark.read.parquet(dirs[0]).drop("batch").collect()
    }
    assert titles == {(boiler, 2, 2)}


def test_edit_purge_pairs_midswap_crash_recoverable(spark, tmp_path, monkeypatch):
    """Round-10 ADVICE-high: a crash INSIDE the pairs rewrite's
    staged_swap (pairs_dir renamed aside, tmp not yet swapped in)
    leaves pairs_dir missing with the UNPURGED pair log — rows naming
    forgotten doc ids — at pairs_dir.compact_old. The resume must
    recover that sibling and RE-RUN the pairs rewrite; the pre-fix
    exists-check skipped the rewrite, cleared the marker, and a later
    recovery resurrected the forgotten ids."""
    from is3107datapipelineproject_spark.streaming.windows import (
        edit_ingest_sink,
        edit_purge_state,
    )

    boiler = "frequently repeated boilerplate heading"
    schema = "doc_id LONG, title STRING"
    dirs = tuple(str(tmp_path / f"pmw_{d}") for d in ("titles", "keys", "pairs", "members"))
    sink = edit_ingest_sink(*dirs)
    sink(spark.createDataFrame([(1, boiler), (2, boiler)], schema), 0)
    sink(spark.createDataFrame([(21, boiler)], schema), 1)

    pairs_dir = dirs[2]
    real_swap = L.staged_swap

    def midswap_crash(sp, path, tmp):
        if path == pairs_dir:
            os.rename(path, path + ".compact_old")  # the aside rename happened...
            raise RuntimeError("injected mid-swap crash")  # ...the swap-in did not
        return real_swap(sp, path, tmp)

    monkeypatch.setattr(L, "staged_swap", midswap_crash)
    try:
        edit_purge_state(spark, *dirs, spark.createDataFrame([(1, boiler)], schema))
        raise AssertionError("injected crash did not fire")
    except RuntimeError as e:
        assert "mid-swap" in str(e)
    monkeypatch.setattr(L, "staged_swap", real_swap)
    assert not os.path.exists(pairs_dir)  # the window under test
    assert L.read_purge_intent(spark, dirs[0]) is not None

    # resume: must restore the aside log AND re-run the pairs rewrite
    edit_purge_state(spark, *dirs, spark.createDataFrame([], schema))
    assert L.read_purge_intent(spark, dirs[0]) is None
    assert not os.path.exists(pairs_dir + ".compact_old")
    pairs = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert pairs == {(21, 2, 0, 1)}  # purged replay, NOT the resurrected (21,1,0,2)

    # forgotten stays forgotten through the next ingest
    sink(spark.createDataFrame([(31, boiler)], schema), 2)
    got = {
        (r.new_id, r.old_id, r.lev, r.n_old)
        for r in spark.read.parquet(pairs_dir).filter(F.col("batch") == 2).collect()
    }
    assert got == {(31, 2, 0, 2)}


def test_cluster_purge_bands_midswap_crash_recoverable(spark, tmp_path, monkeypatch):
    """Round-10 ADVICE-medium: a crash inside the BANDS compaction's
    staged_swap leaves sig_dir missing (corpus at sig_dir.compact_old)
    with the marker staged. The resume's eager spark.read of sig_dir
    runs BEFORE compact_stream_dir's own recovery prologue, so without
    the top-of-function recover it raised PATH_NOT_FOUND and the
    marker wedged ingest until a manual rename."""
    from is3107datapipelineproject_spark.operators.dedup import (
        minhash_neardup_pairs,
        neardup_clusters,
    )

    ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    tb = "one two three four five six seven eight nine ten eleven twelve thirteen"
    schema = "doc_id LONG, text STRING"
    sig_dir = str(tmp_path / "bmw_sigs")
    labels_dir = str(tmp_path / "bmw_labels")
    sink = W.cluster_ingest_sink(sig_dir, labels_dir)
    sink(spark.createDataFrame([(0, ta), (1, ta), (2, ta)], schema), 0)
    sink(spark.createDataFrame([(3, tb), (11, tb)], schema), 1)

    real_swap = L.staged_swap

    def midswap_crash(sp, path, tmp):
        if path == sig_dir:
            os.rename(path, path + ".compact_old")
            raise RuntimeError("injected mid-swap crash")
        return real_swap(sp, path, tmp)

    monkeypatch.setattr(L, "staged_swap", midswap_crash)
    try:
        W.cluster_purge_state(
            spark, labels_dir, sig_dir, spark.createDataFrame([(0,)], "doc_id LONG")
        )
        raise AssertionError("injected crash did not fire")
    except RuntimeError as e:
        assert "mid-swap" in str(e)
    monkeypatch.setattr(L, "staged_swap", real_swap)
    assert not os.path.exists(sig_dir)
    assert L.read_purge_intent(spark, labels_dir) is not None

    # resume (union composition with a second request) must recover
    # sig_dir instead of raising PATH_NOT_FOUND, then complete both
    # rewrites and clear the marker
    W.cluster_purge_state(
        spark, labels_dir, sig_dir, spark.createDataFrame([(2,)], "doc_id LONG")
    )
    assert L.read_purge_intent(spark, labels_dir) is None
    surv = spark.createDataFrame([(1, ta), (3, tb), (11, tb)], schema)
    want = {
        (r.doc_id, r.cluster_id)
        for r in neardup_clusters(
            surv, minhash_neardup_pairs(surv, "text", "doc_id"), "doc_id"
        ).collect()
    }
    got = {
        (r.doc_id, r.cluster_id)
        for r in W.cluster_labels_read(spark, labels_dir).collect()
    }
    assert got == want == {(1, 1), (3, 3), (11, 3)}
    sig_ids = {
        r.doc_id for r in spark.read.parquet(sig_dir).select("doc_id").distinct().collect()
    }
    assert sig_ids == {1, 3, 11}
    sink(spark.createDataFrame([(31, ta)], schema), 2)
    after = {
        (r.doc_id, r.cluster_id)
        for r in W.cluster_labels_read(spark, labels_dir).collect()
    }
    assert after == {(1, 1), (31, 1), (3, 3), (11, 3)}


def test_read_purge_intent_prefers_complete_tmp(spark, tmp_path):
    """Round-10 ADVICE-low: a restage that crashed AFTER renaming the
    old marker aside but BEFORE renaming .tmp into place had already
    fully written the MERGED set to .tmp — recovery must prefer that
    complete .tmp (gated on _SUCCESS) over the pre-restage .old subset,
    so the restaging call's own new ids are not lost. An INCOMPLETE
    .tmp still falls back to .old."""
    sdir = str(tmp_path / "tmppref_state")
    marker = sdir + ".purge_intent"
    # stage {1}, then simulate a restage of {1,2} crashing between its
    # two renames: merged set complete at .tmp, old marker at .old
    L.write_purge_intent(spark, sdir, spark.createDataFrame([(1,)], "did LONG"))
    spark.createDataFrame([(1,), (2,)], "did LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(marker + ".tmp")
    os.rename(marker, marker + ".old")
    pending = L.read_purge_intent(spark, sdir)
    assert {r.did for r in pending.collect()} == {1, 2}  # merged set, not the subset
    assert not os.path.exists(marker + ".old") and not os.path.exists(marker + ".tmp")
    L.clear_purge_intent(spark, sdir)

    # incomplete .tmp (no _SUCCESS): fall back to the .old subset
    L.write_purge_intent(spark, sdir, spark.createDataFrame([(1,)], "did LONG"))
    spark.createDataFrame([(1,), (2,)], "did LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(marker + ".tmp")
    os.remove(marker + ".tmp/_SUCCESS")
    os.rename(marker, marker + ".old")
    pending = L.read_purge_intent(spark, sdir)
    assert {r.did for r in pending.collect()} == {1}
    L.clear_purge_intent(spark, sdir)


def test_cluster_purge_mixed_era_band_table(spark, tmp_path):
    """Round-10 ADVICE-low: a mixed-era band table (legacy 3-column
    batches + with_sig batches) must behave deterministically under a
    purge — default parquet footer sampling could infer the schema from
    a legacy file and silently drop `sig` for every row. With
    mergeSchema the purge completes, survivors keep their sig values,
    and legacy rows surface as explicit NULLs (so the hot-band loud-fail
    guard fires deterministically, never sampling-dependently)."""
    ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    tb = "one two three four five six seven eight nine ten eleven twelve thirteen"
    schema = "doc_id LONG, text STRING"
    sig_dir = str(tmp_path / "mix_sigs")
    labels_dir = str(tmp_path / "mix_labels")
    sink = W.cluster_ingest_sink(sig_dir, labels_dir)
    sink(spark.createDataFrame([(0, ta), (1, ta)], schema), 0)
    sink(spark.createDataFrame([(3, tb), (11, tb)], schema), 1)
    # age batch 0 into the legacy era: rewrite it without the sig column
    b0 = spark.read.parquet(f"{sig_dir}/batch=0").select("doc_id", "hs", "band")
    b0.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "mix_b0"))
    import shutil

    shutil.rmtree(f"{sig_dir}/batch=0")
    shutil.move(str(tmp_path / "mix_b0"), f"{sig_dir}/batch=0")

    W.cluster_purge_state(
        spark, labels_dir, sig_dir, spark.createDataFrame([(0,)], "doc_id LONG")
    )
    back = spark.read.option("mergeSchema", "true").parquet(sig_dir)
    assert "sig" in back.columns  # the compacted table carries the union schema
    per_doc = {
        r.doc_id: r.has_sig
        for r in back.groupBy("doc_id")
        .agg(F.max(F.col("sig").isNotNull()).alias("has_sig"))
        .collect()
    }
    # survivor 1 was a legacy-era row (explicit NULL sig); 3/11 keep theirs
    assert per_doc == {1: False, 3: True, 11: True}
    got = {
        (r.doc_id, r.cluster_id)
        for r in W.cluster_labels_read(spark, labels_dir).collect()
    }
    assert got == {(1, 1), (3, 3), (11, 3)}


def test_blocked_ingest_sink_matches_batch_incremental(spark, tmp_path):
    """Blocked-tier streaming ingest == batch
    incremental_blocked_jaccard: two micro-batches through the
    foreachBatch sink; batch 2's pairs against the PERSISTED
    fixed-order postings must equal the batch operator (per-block
    df-rarest order) with batch 1 as corpus — both tiers' prunes are
    lossless and the verify exact, so the order difference must not
    change a pair. Block confinement holds across batches, replay is
    bit-identical, and the generic purge tier erases a forgotten doc
    from all three state dirs."""
    from is3107datapipelineproject_spark.operators import dedup as D
    from is3107datapipelineproject_spark.streaming.windows import blocked_ingest_sink

    cols = ["doc_id", "source", "text"]
    b1 = [
        (1, "web", "the quick brown fox jumps over the lazy dog"),
        (2, "web", "completely unrelated text about distributed query processing"),
        (3, "books", "the quick brown fox jumps over the lazy dog"),
    ]
    b2 = [
        (11, "web", "the quick brown fox jumps over the lazy dog"),  # dup of 1, NOT 3
        (12, "books", "the quick brown fox jumps over the lazy dog today"),  # near 3
        (13, "web", "fresh content matching nothing in the corpus"),
    ]
    docs_dir = tmp_path / "blk_docs"
    spark.createDataFrame(b1, cols).coalesce(1).write.parquet(str(docs_dir / "f0.parquet"))
    spark.createDataFrame(b2, cols).coalesce(1).write.parquet(str(docs_dir / "f1.parquet"))
    postings_dir = str(tmp_path / "blk_postings")
    sets_dir = str(tmp_path / "blk_sets")
    pairs_dir = str(tmp_path / "blk_pairs")

    sink = blocked_ingest_sink(postings_dir, sets_dir, pairs_dir, threshold=0.5)
    stream = (
        spark.readStream.schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "blk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.new_id, r.old_id, r.jaccard) for r in spark.read.parquet(pairs_dir).collect()
    }
    want = {
        (r.new_id, r.old_id, r.jaccard)
        for r in D.incremental_blocked_jaccard(
            spark.createDataFrame(b1, cols),
            spark.createDataFrame(b2, cols),
            "text",
            "doc_id",
            "source",
            threshold=0.5,
        ).collect()
    }
    assert got == want
    assert (11, 1, 1.0) in got  # same block
    assert not any(o == 3 for n, o, _ in got if n == 11)  # cross-block never pairs
    assert any(n == 12 and o == 3 for n, o, _ in got)  # books-block near-dup found

    # postings hold a PREFIX, never the full set
    import pyspark.sql.functions as SF

    pf = spark.read.parquet(postings_dir)
    per_doc = pf.groupBy("doc_id").agg(
        SF.count(SF.lit(1)).alias("np"), SF.max("m").alias("m")
    )
    assert per_doc.filter(SF.col("np") >= SF.col("m")).count() == 0

    # at-least-once replay of batch 1: all three dirs bit-identical
    sink(spark.createDataFrame(b2, cols), 1)
    assert {
        (r.new_id, r.old_id, r.jaccard) for r in spark.read.parquet(pairs_dir).collect()
    } == want

    # right-to-be-forgotten via the generic per-row tier
    deleted = spark.createDataFrame([(1,)], "doc_id LONG")
    W.purge_stream_state(spark, postings_dir, ("doc_id",), deleted)
    W.purge_stream_state(spark, sets_dir, ("doc_id",), deleted)
    W.purge_stream_state(spark, pairs_dir, ("new_id", "old_id"), deleted)
    assert spark.read.parquet(postings_dir).filter(SF.col("doc_id") == 1).count() == 0
    assert spark.read.parquet(sets_dir).filter(SF.col("doc_id") == 1).count() == 0
    left = {
        (r.new_id, r.old_id, r.jaccard) for r in spark.read.parquet(pairs_dir).collect()
    }
    assert left == {p for p in want if 1 not in (p[0], p[1])}
    # forgotten stays forgotten: an identical post-purge arrival in the
    # same block pairs only with surviving members
    sink(spark.createDataFrame([(21, "web", b1[0][2])], cols), 2)
    newp = {
        (r.new_id, r.old_id)
        for r in spark.read.parquet(pairs_dir).filter(SF.col("batch") == 2).collect()
    }
    assert (21, 11) in newp and not any(o == 1 for _, o in newp)


def test_blocked_ingest_state_compaction_invariant(spark, tmp_path):
    """compact_stream_dir over the blocked sink's posting/set logs:
    batch partials collapse to one batch=<max> partition with
    bit-identical merge-on-read contents, and the NEXT ingest still
    pairs correctly against the compacted corpus (the reused max id
    keeps the strictly-earlier filter sound)."""
    from is3107datapipelineproject_spark.plans.layout import compact_stream_dir
    from is3107datapipelineproject_spark.streaming.windows import blocked_ingest_sink

    cols = ["doc_id", "source", "text"]
    sink = blocked_ingest_sink(
        str(tmp_path / "bc_postings"),
        str(tmp_path / "bc_sets"),
        str(tmp_path / "bc_pairs"),
        threshold=0.5,
    )
    t = "the quick brown fox jumps over the lazy dog"
    sink(spark.createDataFrame([(1, "web", t), (2, "books", t)], cols), 0)
    sink(spark.createDataFrame([(11, "web", t + " again")], cols), 1)

    for d in ("bc_postings", "bc_sets"):
        path = str(tmp_path / d)
        before = sorted(map(tuple, spark.read.parquet(path).drop("batch").collect()))
        fb, fa = compact_stream_dir(spark, path)
        assert fa < fb, d
        after = spark.read.parquet(path)
        assert sorted(map(tuple, after.drop("batch").collect())) == before, d
        assert {r.batch for r in after.select("batch").distinct().collect()} == {1}, d

    sink(spark.createDataFrame([(21, "web", t)], cols), 2)
    got = {
        (r.new_id, r.old_id)
        for r in spark.read.parquet(str(tmp_path / "bc_pairs"))
        .filter(F.col("batch") == 2)
        .collect()
    }
    assert got == {(21, 1), (21, 11)}  # web block only, both corpus members


def test_state_readers_recover_crashed_compaction(spark, tmp_path):
    """Query-side readers (cluster_labels_read, hist_read) share the
    rewriters' recovery prologue: a compaction that crashed mid-swap
    leaves the state dir missing with the corpus at .compact_old — the
    reader restores it instead of raising PATH_NOT_FOUND while the data
    sits one rename away."""
    ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    schema = "doc_id LONG, text STRING"
    sig_dir = str(tmp_path / "rr_sigs")
    labels_dir = str(tmp_path / "rr_labels")
    sink = W.cluster_ingest_sink(sig_dir, labels_dir)
    sink(spark.createDataFrame([(0, ta), (1, ta)], schema), 0)
    before = {(r.doc_id, r.cluster_id) for r in W.cluster_labels_read(spark, labels_dir).collect()}
    os.rename(labels_dir, labels_dir + ".compact_old")
    after = {(r.doc_id, r.cluster_id) for r in W.cluster_labels_read(spark, labels_dir).collect()}
    assert after == before == {(0, 0), (1, 0)}
    assert os.path.exists(labels_dir) and not os.path.exists(labels_dir + ".compact_old")

    sketch_dir = str(tmp_path / "rr_hist")
    spark.createDataFrame([(1, 3), (2, 4)], ["bin", "bin_cnt"]).write.parquet(sketch_dir)
    want = {(r.bin, r.bin_cnt) for r in W.hist_read(spark, sketch_dir).collect()}
    os.rename(sketch_dir, sketch_dir + ".compact_old")
    got = {(r.bin, r.bin_cnt) for r in W.hist_read(spark, sketch_dir).collect()}
    assert got == want == {(1, 3), (2, 4)}


def test_state_doctor_diagnoses_and_repairs(tmp_path):
    """tools/state_doctor.py applies exactly the recovery table the
    maintenance prologues implement: superseded asides reclaimed,
    mid-swap asides restored, stale tmps deleted, orphan tmps and
    purge markers reported but never auto-touched."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import state_doctor as SD

    root = tmp_path / "states"
    # superseded aside: both primary and aside exist
    (root / "a").mkdir(parents=True)
    (root / "a.compact_old").mkdir()
    # mid-swap: primary missing, aside is the corpus
    (root / "b.compact_old").mkdir()
    (root / "b.compact_old" / "part-0").write_text("corpus")
    # stale tmp next to an intact primary
    (root / "c").mkdir()
    (root / "c.compact_tmp").mkdir()
    # orphan tmp with NO complete copy anywhere
    (root / "d.compact_tmp").mkdir()
    # purge in flight
    (root / "e").mkdir()
    (root / "e.purge_intent").mkdir()
    # complete marker tmp with NO marker: a restage crashed between its
    # renames -> recoverable merged set, purge still in flight
    (root / "f.purge_intent.tmp").mkdir()
    (root / "f.purge_intent.tmp" / "_SUCCESS").write_text("")
    # incomplete marker tmp (no _SUCCESS, no marker): the engine ignores
    # it (read_purge_intent requires _SUCCESS) -> deletable
    (root / "g.purge_intent.tmp").mkdir()

    kinds = {f["path"].split("/")[-1]: f["kind"] for f in SD.diagnose(str(root))}
    assert kinds == {
        "a.compact_old": "superseded_aside",
        "b.compact_old": "midswap_aside",
        "c.compact_tmp": "stale_tmp",
        "d.compact_tmp": "orphan_tmp_no_copy",
        "e.purge_intent": "purge_in_flight",
        "f.purge_intent.tmp": "purge_in_flight",
        "g.purge_intent.tmp": "purge_stage_incomplete",
    }

    # a typo'd root must error, never report a clean bill of health
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="does not exist"):
        SD.diagnose(str(tmp_path / "sates"))

    out = SD.repair(SD.diagnose(str(root)))
    assert not (root / "a.compact_old").exists() and (root / "a").exists()
    assert (root / "b").exists() and (root / "b" / "part-0").read_text() == "corpus"
    assert not (root / "b.compact_old").exists()
    assert not (root / "c.compact_tmp").exists() and (root / "c").exists()
    assert (root / "d.compact_tmp").exists()  # never auto-touched
    assert (root / "e.purge_intent").exists()
    assert (root / "f.purge_intent.tmp").exists()  # recoverable set: kept
    assert not (root / "g.purge_intent.tmp").exists()  # ignored staging: deleted
    applied = {f["path"].split("/")[-1]: f["applied"] for f in out}
    assert applied["d.compact_tmp"] is False and applied["e.purge_intent"] is False
    assert applied["f.purge_intent.tmp"] is False and applied["g.purge_intent.tmp"] is True

    # idempotent: after repair only the two report-only findings remain
    left = {(f["path"], f["kind"]) for f in SD.diagnose(str(root))}
    assert left == {
        (str(root / "d.compact_tmp"), "orphan_tmp_no_copy"),
        (str(root / "e.purge_intent"), "purge_in_flight"),
        (str(root / "f.purge_intent.tmp"), "purge_in_flight"),
    }


def test_reader_recovery_never_reclaims_superseded_aside(spark, tmp_path):
    """Round-11 ADVICE: query-side readers widened the maintenance race
    surface by mutating state (deleting superseded asides) during pure
    reads. Reader-mode recovery must leave a superseded ``.compact_old``
    alone when the primary exists — reclaiming it is maintenance's job —
    while writer-mode recovery (the rewrite prologue) still reclaims."""
    sketch_dir = str(tmp_path / "ro_hist")
    spark.createDataFrame([(1, 3), (2, 4)], ["bin", "bin_cnt"]).write.parquet(sketch_dir)
    # completed-swap leftover: primary AND aside both exist
    spark.createDataFrame([(9, 9)], ["bin", "bin_cnt"]).write.parquet(
        sketch_dir + ".compact_old"
    )
    got = {(r.bin, r.bin_cnt) for r in W.hist_read(spark, sketch_dir).collect()}
    assert got == {(1, 3), (2, 4)}
    assert os.path.exists(sketch_dir + ".compact_old"), "reader must not reclaim"
    # writer-mode prologue reclaims the superseded aside as before
    L.recover_stale_sibling(spark, sketch_dir)
    assert not os.path.exists(sketch_dir + ".compact_old")

    labels_dir = str(tmp_path / "ro_labels")
    spark.createDataFrame([(0, 0, 0)], ["doc_id", "cluster_id", "batch"]).write.parquet(
        labels_dir
    )
    os.mkdir(labels_dir + ".compact_old")
    assert {(r.doc_id, r.cluster_id) for r in W.cluster_labels_read(spark, labels_dir).collect()} == {
        (0, 0)
    }
    assert os.path.exists(labels_dir + ".compact_old"), "reader must not reclaim"


def test_assert_no_purge_intent_complete_orphan_tmp(spark, tmp_path):
    """Round-11 ADVICE: the in-flight-purge definition must be consistent
    across read_purge_intent / state_doctor / assert_no_purge_intent. A
    COMPLETE orphaned ``.purge_intent.tmp`` (``_SUCCESS`` present, marker
    absent — write_purge_intent crashed before its final rename) is a
    pending purge that the next read RESURRECTS into a blocking marker,
    so ingest must refuse on it too; an INCOMPLETE ``.tmp`` stays
    ignorable (the crashed caller must retry anyway)."""
    import pytest

    sdir = str(tmp_path / "oi_state")
    L.write_purge_intent(spark, sdir, spark.createDataFrame([(7,)], "did LONG"))
    # crash window: the fully-written marker never got its final rename
    os.rename(sdir + ".purge_intent", sdir + ".purge_intent.tmp")
    with pytest.raises(RuntimeError, match="pending"):
        L.assert_no_purge_intent(spark, sdir, "test_sink")
    # the same .tmp is what read_purge_intent resurrects — consistent views
    pending = L.read_purge_intent(spark, sdir)
    assert pending is not None and {r.did for r in pending.collect()} == {7}
    L.clear_purge_intent(spark, sdir)
    L.assert_no_purge_intent(spark, sdir, "test_sink")

    # incomplete staging (no _SUCCESS): ignored by both reader and guard
    os.mkdir(sdir + ".purge_intent.tmp")
    L.assert_no_purge_intent(spark, sdir, "test_sink")
    assert L.read_purge_intent(spark, sdir) is None


def test_ingest_sink_fanout_and_saturation_guards(spark, tmp_path):
    """Round-11 ADVICE: the exact-tier sinks' doc_id-keyed verify relies
    on contracts that were docstring-only — now enforced loudly:

    1. a duplicate doc_id WITHIN a batch raises (one-row-per-doc);
    2. a doc_id RE-INGESTED across batches raises (verify would fan out);
    3. a duplicate-saturated batch trips ``max_prefix_posting`` instead
       of silently going quadratic (blocked sink gets the same guard the
       batch operators always had);
    4. incremental_blocked_jaccard rejects a multi-block doc frame.
    """
    import pytest

    from is3107datapipelineproject_spark.operators import dedup as D
    from is3107datapipelineproject_spark.streaming.windows import (
        blocked_ingest_sink,
        prefix_ingest_sink,
    )

    cols = ["doc_id", "source", "text"]
    t = "the quick brown fox jumps over the lazy dog"
    dirs = [str(tmp_path / f"g_{d}") for d in ("postings", "sets", "pairs")]
    sink = blocked_ingest_sink(*dirs, threshold=0.5)

    # 1. within-batch duplicate id (a doc listed under two blocks)
    with pytest.raises(ValueError, match="appears 2 times"):
        sink(spark.createDataFrame([(1, "web", t), (1, "books", t)], cols), 0)

    # healthy first batch, then 2. cross-batch re-ingest of doc 1
    sink(spark.createDataFrame([(1, "web", t), (2, "books", t)], cols), 0)
    with pytest.raises(ValueError, match="re-ingests doc_id"):
        sink(spark.createDataFrame([(1, "web", t + " again")], cols), 1)
    # a REPLAY of batch 0 itself stays exempt (strictly-earlier filter)
    sink(spark.createDataFrame([(1, "web", t), (2, "books", t)], cols), 0)

    # 3. duplicate-saturated batch trips the hot-block cap
    tight = blocked_ingest_sink(
        *(str(tmp_path / f"h_{d}") for d in ("postings", "sets", "pairs")),
        threshold=0.5,
        max_prefix_posting=2,
    )
    saturated = [(i, "web", t) for i in range(4)]
    with pytest.raises(ValueError, match="duplicate-saturated"):
        tight(spark.createDataFrame(saturated, cols), 0)

    # prefix sink: same three guards (spot-check 1 and 2)
    pdirs = [str(tmp_path / f"p_{d}") for d in ("postings", "sets", "pairs")]
    psink = prefix_ingest_sink(*pdirs, threshold=0.7)
    with pytest.raises(ValueError, match="appears 2 times"):
        psink(spark.createDataFrame([(1, "x", t), (1, "y", t)], cols).drop("source"), 0)
    psink(spark.createDataFrame([(1, t)], ["doc_id", "text"]), 0)
    with pytest.raises(ValueError, match="re-ingests doc_id"):
        psink(spark.createDataFrame([(1, t)], ["doc_id", "text"]), 1)

    # 4. batch operator: multi-block doc frame rejected on either side
    good = spark.createDataFrame([(10, "web", t)], cols)
    multi = spark.createDataFrame([(1, "web", t), (1, "books", t)], cols)
    with pytest.raises(ValueError, match="ONE row"):
        D.incremental_blocked_jaccard(multi, good, "text", "doc_id", "source").collect()
    with pytest.raises(ValueError, match="ONE row"):
        D.incremental_blocked_jaccard(good, multi, "text", "doc_id", "source").collect()
