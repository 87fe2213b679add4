"""SparkSession construction with scale-aware defaults.

The engine is designed for a multi-executor cluster reading ~100 TB; the
defaults below are the ones that matter at that scale and are harmless on
``local[*]``:

- AQE on (runtime re-planning: coalesce small shuffle partitions,
  broadcast-convert joins, split skewed partitions),
- Arrow for any pandas interchange (vectorized UDF transfer),
- ``nanosAsLong`` so nanosecond-precision parquet (older ``events``
  testdata generations) scans natively instead of failing,
- UTC session timezone so date/timestamp semantics are deterministic
  regardless of host configuration (and so naive/NTZ parquet timestamps
  cast to ``timestamp`` without shifting the wall-clock value).

Materialization contract. An intermediate that several consumers read
is kept with ``DataFrame.localCheckpoint`` at Spark's default storage
level: memory and disk, deserialized, so its in-memory blocks cost no
decode per read but take about 12× the serialized size (measured on
the k-core edge frames at sf0.1). Two sites pick another level:

- the O(|E|) edge frames of the iterative graph operators go through
  ``operators/graph.py::checkpoint_edges``, serialized
  ``MEMORY_AND_DISK``, because deserialized edge blocks ran the driver
  out of memory at x100 (SCALING.md round 5);
- ``durable=True`` in the prefix-filter dedup tiers keeps lineage with
  ``persist(DISK_ONLY)``.

When to materialize, at any level:

- Lazy (``eager=False``) by default: the first action that reads the
  frame stores its blocks, with no job of its own (under AQE, building
  the checkpoint still runs the map stages of the frame's own
  shuffles). The checkpoint is complete after ANY first action, even a
  ``limit`` probe, because Spark backfills the skipped partitions at
  the end of that action.
- Eager only (a) to pin values at one point before a state write, so
  every later write sees the same rows, or (b) under a probe-first
  consumer, where lazy saves nothing (probe plus backfill costs what
  the eager job does). Each eager site says which, in one line.
- Determinism: a lazy frame's values pin when its first action
  materializes them. A frame whose upstream is nondeterministic
  (``rand()``, source files that change, tie-broken limits) and whose
  consumers could materialize different partitions in concurrent
  stages must be eager, so the pin happens at one point. A lazy site
  whose upstream is not plainly deterministic says in one line why it
  is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (non-static) confs applied to sessions we build AND to sessions
# handed to us by a driver (see `apply_runtime_confs`).
_RUNTIME_CONFS: dict[str, str] = {
    # Older testdata generations carried INT64 TIMESTAMP(NANOS) events —
    # read as long, normalized in sources.tables.normalize_events (which
    # also handles the current micros-NTZ layout). Harmless when unused.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r12 (optimization guide §3.1/§9): let the planner pick a shuffled
    # hash join when its build-side size conditions hold instead of
    # always sorting both sides, and let AQE convert a planned SMJ to
    # SHJ at runtime when every post-shuffle partition is small enough
    # to hash locally (the threshold matches the partition sizes AQE
    # coalescing targets). Measured on the 13 headline queries whose
    # plans carried SMJ: ~3% wall / ~7% JVM-CPU (the removed
    # per-partition sorts), values unchanged — join strategy never
    # affects results. OOM-risk scope (r13, per the r12 advice): only
    # the AQE conversion is RUNTIME-bounded by the 128m threshold; the
    # static planner path picks SHJ from size ESTIMATES
    # (canBuildLocalHashMap: plan-estimated side < partitions ×
    # threshold), so a badly mis-estimated or skewed build side could
    # plan SHJ where SMJ would sort-spill. AQE skew-join splitting (on,
    # above) covers the skew half for both join kinds; the estimate
    # half is accepted deliberately: this engine's SHJ build sides are
    # dimension/aggregate frames whose estimates derive from parquet
    # stats, and Spark's guide-recommended baseline (§9) ships exactly
    # this pair. Revisit with cluster-scale stats before trusting a
    # ×100 run that adds new estimate-opaque build sides (UDF-derived
    # or post-explode frames).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-built session.

    Safe to call repeatedly; only touches runtime-settable SQL confs.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A driver may pin a conf as static; never fail on tuning confs.
            pass
    return spark


def get_spark(
    app_name: str = "is3107datapipelineproject-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` if
    unset). ``shuffle_partitions`` defaults to the parallelism of the
    master — on a real cluster you would size this to ~2-3× total cores
    and let AQE coalesce down.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # Local mode runs executors inside the driver JVM; Spark's 1g default
    # heap OOMs long before the machine does (static conf — must be set
    # before the JVM starts, so only effective for sessions we build).
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # Keep the UI off in test/bench harnesses — one less port to clash on.
    builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
