"""Analytic-window / advanced-aggregate workload (SURVEY §2.4-2.5 free
surface).

The reference has no ranking/lag/frame windows or grouping sets; Spark
exposes them natively, so the engine claims them as first-class operators
with oracle checks — they are the ops an analyst moving off the reference
immediately reaches for. All window specs pin a TOTAL order (tiebreak
chains) so results are reproducible across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.sources.tables import load_table
from is3107datapipelineproject_spark.workload.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "filter_bool",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE NOT (o_orderstatus = 'F')
""",
    tags=("filter",),
)
def q_filter_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 (ref main_dag.py:251-252 ``is_seen == False``): negated
    boolean-flag filter — the flag derived, negated, then filtered so
    the boolean path (not a rewritten comparison) is exercised."""
    o = _t(spark, sf_dir, "orders").withColumn("flag", F.col("o_orderstatus") == "F")
    return o.filter(~F.col("flag")).select("o_orderkey", "o_totalprice")


@register(
    "agg_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg",),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 4 aggregation levels in one pass
    (partial aggregation expands grouping sets map-side)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_orderkey) OVER w AS prev_order,
       lead(o_orderkey) OVER w AS next_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("window",),
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over a per-customer order timeline (total order via
    (date, key) tiebreak)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


@register(
    "window_rank_dense",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
    tags=("window",),
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank per customer by order value."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
    )


@register(
    "window_moving_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_3
FROM orders
""",
    tags=("window",),
)
def q_window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based moving aggregate (3-row trailing sum). DECIMAL-cast
    keeps the double sum deterministic across engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("moving_3"),
    )


@register(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS p50,
       round(CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE), 4) AS p90
FROM lineitem GROUP BY 1
""",
    tags=("agg",),
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == ANSI
    PERCENTILE_CONT == DuckDB quantile_cont; rounded for fp safety).
    The approximate twin at scale is percentile_approx (KLL-ish sketch,
    rows-only check — see approx_distinct)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90"),
    )


@register(
    "events_sliding_window",
    oracle="""
SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT make_timestamp(s * 1000000) AS window_start, event_type, us
  FROM (
    SELECT unnest([
             (epoch_us(ts) // 1000000 // 1800) * 1800,
             (epoch_us(ts) // 1000000 // 1800) * 1800 - 1800
           ]) AS s,
           event_type, epoch_us(ts) AS us
    FROM events
  )
  WHERE us >= s * 1000000 AND us < (s + 3600) * 1000000
)
GROUP BY 1, 2
""",
    tags=("window", "events"),
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1h window, 30m slide) — each event in
    2 overlapping buckets; batch twin of streaming.sliding_counts."""
    from is3107datapipelineproject_spark.streaming.windows import sliding_counts

    e = _t(spark, sf_dir, "events")
    return sliding_counts(e).select("window_start", "event_type", "cnt")


@register(
    "events_session_window",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM ordered
),
sessions AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id, sid
""",
    tags=("window", "events", "sessionize", "streaming-twin"),
)
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-NATIVE session windows (F.session_window, the construct
    Structured Streaming uses for stateful sessionization), checked
    against a hand-rolled gap-session oracle. Note the boundary: a gap
    of exactly the 30-minute threshold starts a new session (window end
    exclusive), hence the oracle's ``>=``."""
    from is3107datapipelineproject_spark.streaming.windows import session_counts

    e = _t(spark, sf_dir, "events")
    return session_counts(e).select("user_id", "session_start", "session_end", "n_events")


@register(
    "events_sessionize",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM ordered
),
sessions AS (
  SELECT user_id, ts, event_id,
         CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM sessions GROUP BY 1, 2
""",
    tags=("window", "events", "sessionize"),
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity threshold): the
    batch formulation — lag + cumulative-sum session ids — of what
    Structured Streaming expresses with session_window / state. Two
    window passes over the same (user, time) partition order, so one
    shuffle; 100 TB plan: sort within user partitions, no extra exchange
    between the passes."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = marked.withColumn("session_id", F.sum("is_start").over(cum).cast("bigint"))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "events_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "events"),
)
def q_events_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.windows.dedup_keys — the same function
    serves both modes (dropDuplicatesWithinWatermark on a stream, key
    distinct on a batch frame); tests assert the streaming run over a
    DOUBLED input converges to this result via cross-microbatch state."""
    from is3107datapipelineproject_spark.streaming.windows import dedup_keys

    return dedup_keys(_t(spark, sf_dir, "events"))


@register(
    "click_purchase_attribution",
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    tags=("streaming", "join", "events"),
)
def q_click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming.windows.click_purchase_attribution): purchases attributed
    to same-user clicks within 30 minutes. On streams both sides are
    watermarked and the range condition bounds join state; the batch
    plan is the same interval join the temporal operator family uses."""
    from is3107datapipelineproject_spark.streaming.windows import click_purchase_attribution

    e = _t(spark, sf_dir, "events")
    return click_purchase_attribution(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )


@register(
    "pivot_priority_by_year",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
       CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS high,
       CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium,
       CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS not_specified,
       CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS low
FROM orders GROUP BY 1
""",
    tags=("agg", "pivot"),
)
def q_pivot_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts per year spread across one
    column per priority. The pivot values are pinned explicitly, so the
    plan is a single-pass conditional aggregation — no extra
    distinct-values scan, no second shuffle; exactly the FILTER'd
    aggregate the oracle spells out."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.select(F.year("o_orderdate").cast("int").alias("order_year"), "o_orderpriority")
        .groupBy("order_year")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    renames = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified",
        "5-LOW": "low",
    }
    out = piv
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    # absent (year, priority) combos pivot to null; the oracle counts 0
    return out.na.fill(0, list(renames.values()))


@register(
    "unpivot_lineitem_metrics",
    oracle="""
WITH src AS (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
             FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01')
SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM src
""",
    tags=("agg", "pivot"),
)
def q_unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long, DataFrame.unpivot/melt): three lineitem
    measures to (metric, val) rows. Spark's Expand node emits all three
    rows per input in one pass over a single scan — vs the UNION ALL
    oracle's three scans; the date band is pushed down below the
    Expand."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    return li.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax").unpivot(
        ["l_orderkey", "l_linenumber"],
        [F.col("l_quantity").alias("quantity"), F.col("l_discount").alias("discount"), F.col("l_tax").alias("tax")],
        "metric",
        "val",
    )


@register(
    "events_funnel",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS view_ts
           FROM events WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT v.user_id, min(e.ts) AS click_ts
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click'
       AND e.ts > v.view_ts AND e.ts <= v.view_ts + INTERVAL 30 MINUTE
      GROUP BY 1),
p AS (SELECT c.user_id, min(e.ts) AS purchase_ts
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.click_ts AND e.ts <= c.click_ts + INTERVAL 30 MINUTE
      GROUP BY 1)
SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
       CAST(1 + (CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END) AS INT)
         AS funnel_depth
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id
""",
    tags=("events", "join", "funnel"),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step conversion funnel (view → click within 30 min →
    purchase within 30 min of the click), anchored at each user's FIRST
    view. Every stage is a per-user min-aggregate over an interval-
    bounded self-join — all four shuffles hash on user_id, so AQE/
    exchange reuse keeps the user partitioning live across stages
    instead of re-sharding, and per-user state is one timestamp per
    stage (the streaming twin of this shape is applyInPandasWithState
    with exactly that state). Left joins preserve users who stall at
    depth 1 or 2 — the drop-off counts ARE the funnel metric."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    c = (
        v.join(
            clicks,
            (v["user_id"] == clicks["cu"])
            & (clicks["cts"] > v["view_ts"])
            & (clicks["cts"] <= v["view_ts"] + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("user_id")
        .agg(F.min("cts").alias("click_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    p = (
        c.join(
            purchases,
            (c["user_id"] == purchases["pu"])
            & (purchases["pts"] > c["click_ts"])
            & (purchases["pts"] <= c["click_ts"] + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("user_id")
        .agg(F.min("pts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            (
                F.lit(1)
                + F.col("click_ts").isNotNull().cast("int")
                + F.col("purchase_ts").isNotNull().cast("int")
            )
            .cast("int")
            .alias("funnel_depth"),
        )
    )


@register(
    "key_skew_stats",
    oracle="""
WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1),
t AS (SELECT sum(cnt) AS tot FROM c)
SELECT o_custkey, CAST(cnt AS BIGINT) AS cnt,
       CAST(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS DOUBLE) AS share
FROM c, t
ORDER BY cnt DESC, o_custkey
LIMIT 10
""",
    tags=("agg", "diagnostics", "topk"),
)
def q_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 10 heaviest o_custkey values with
    their share of the table — the probe you run BEFORE choosing
    broadcast/salt/AQE-skew strategy for a join on that key (the
    salted-join operator runs a sampled version of exactly this
    measurement, operators/relational.py). One partial-agg shuffle on
    the key, a 1-row total broadcast, then TakeOrdered on the (already
    tiny) per-key frame — never a full sort. Tie order pinned by key so
    the top-10 frontier is deterministic."""
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    cnt = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnt.agg(F.sum("cnt").alias("tot"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .orderBy(F.col("cnt").desc(), F.col("o_custkey"))
        .limit(10)
        .select(
            "o_custkey",
            "cnt",
            (F.col("cnt").cast("double") / F.col("tot").cast("double"))
            .cast("double")
            .alias("share"),
        )
    )


@register(
    "cohort_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY 1
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         CAST(datediff('day', f.cohort_day, date_trunc('day', e.ts)) AS INT)
           AS day_offset
  FROM events e JOIN first_seen f ON f.user_id = e.user_id
)
SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
FROM activity GROUP BY 1, 2
""",
    tags=("events", "agg", "cohort"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, and
    for each cohort the distinct users still active at each day offset.
    Both the first-seen aggregate and the activity dedup hash on
    user_id, so the cohort join never re-shards the fact; the output is
    days × offsets — tiny at any scale. The classic warehouse-
    engagement query the reference's star schema can't express but an
    events table demands."""
    e = _t(spark, sf_dir, "events").select("user_id", F.date_trunc("day", "ts").alias("d"))
    first_seen = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# --- round 5: time-series / sequence analytics ------------------------------


@register(
    "running_distinct_users",
    oracle="""
WITH fs AS (SELECT user_id, min(date_trunc('day', ts)) AS d FROM events GROUP BY 1),
daily AS (SELECT d, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY 1)
SELECT d, new_users,
       CAST(sum(new_users) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM daily
""",
    tags=("events", "window", "timeseries"),
)
def q_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth-curve query. A
    naive per-day COUNT(DISTINCT ... WHERE ts <= day) rescans the corpus
    per day; restated exactly as first-seen-day per user (one hash
    aggregate on user_id) + per-day new-user counts + a running sum.
    Only the #days-row daily frame crosses the single-partition window —
    corpus-side work is two key-hashed aggregates at any scale."""
    e = _t(spark, sf_dir, "events").select("user_id", F.date_trunc("day", "ts").alias("d"))
    fs = e.groupBy("user_id").agg(F.min("d").alias("d"))
    daily = fs.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@register(
    "daily_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS s,
         CAST(sum(cnt * cnt) AS BIGINT) AS ss
  FROM daily GROUP BY 1
),
sc AS (
  SELECT d.event_type, d.d, d.cnt,
         CAST(st.s AS DOUBLE) / st.n AS mean,
         CAST(st.ss AS DOUBLE) / st.n
           - (CAST(st.s AS DOUBLE) / st.n) * (CAST(st.s AS DOUBLE) / st.n) AS var
  FROM daily d JOIN st USING (event_type)
)
SELECT event_type, d, cnt,
       round((CAST(cnt AS DOUBLE) - mean) / sqrt(var), 4) AS z,
       abs(round((CAST(cnt AS DOUBLE) - mean) / sqrt(var), 4)) >= 2.0 AS is_anomaly
FROM sc WHERE var > 0
""",
    tags=("events", "timeseries", "diagnostics"),
)
def q_daily_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: each (event_type, day) count z-scored
    against that type's own daily distribution. Moments come from EXACT
    integer sums (n, Σcnt, Σcnt² — associative, partial-aggregated
    map-side), converted to double in one fixed expression both engines
    evaluate identically; z is rounded before the |z| ≥ 2 flag so the
    anomaly decision is bit-stable. The per-type stats frame is
    #event_types rows — broadcast back, the daily frame never reshuffles."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("d")
    )
    daily = e.groupBy("event_type", "d").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    z = F.round((F.col("cnt").cast("double") - mean) / F.sqrt(var), 4)
    return (
        daily.join(F.broadcast(st), "event_type")
        .withColumn("__var", var)
        .filter(F.col("__var") > 0)
        .select(
            "event_type",
            "d",
            "cnt",
            z.alias("z"),
            (F.abs(z) >= 2.0).alias("is_anomaly"),
        )
    )


@register(
    "gap_fill_interpolate",
    oracle="""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS d, max(value) AS v
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
spine AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM span),
j AS (
  SELECT s.user_id, s.d, dl.v
  FROM spine s LEFT JOIN daily dl ON dl.user_id = s.user_id AND dl.d = s.d
)
SELECT user_id, d,
       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
       v IS NOT NULL AS observed
FROM j
""",
    tags=("events", "timeseries", "window"),
)
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap filling with forward fill — the hypertable
    `time_bucket_gapfill`/`locf` shape: per user, a dense daily spine
    from their first to last active day, daily peak value where
    observed, last-observation-carried-forward where not. The spine is
    a narrow per-row sequence explode (no join against a calendar
    table); the fill is last(ignorenulls) over a user-partitioned
    window, so every shuffle keys on user_id and partitions stay
    user-sized. Daily value = max (order-independent, bit-exact across
    engines — a float SUM here would not be)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("d"), "value"
    )
    daily = e.groupBy("user_id", "d").agg(F.max("value").alias("v"))
    span = daily.groupBy("user_id").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("d")
    )
    j = spine.join(daily, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "d",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v").isNotNull().alias("observed"),
    )


@register(
    "session_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
""",
    tags=("events", "window", "sequence"),
)
def q_session_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    stream (the journey-analysis primitive funnels are a special case
    of): lead() within a user-partitioned window totally ordered by
    (ts, event_id) — the tiebreak makes the sequence, and therefore
    every count, engine- and partitioning-reproducible. One shuffle on
    user_id, then the #types² aggregate."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "window_ntile_cume",
    oracle="""
SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS o_year, o_orderkey, o_totalprice,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority, year(o_orderdate)
             ORDER BY o_totalprice, o_orderkey)
""",
    tags=("window",),
)
def q_window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + cume_dist coverage: price quartile and cumulative
    distribution of every order within its (priority, year) cell. The
    window order pins a TOTAL order (price, then key) so both ranks are
    deterministic. The cells are FIXED-COUNT (5 priorities × 7 years)
    so each grows linearly with the corpus — a plain per-cell window
    sort was measured 139× at ×100 data (SCALING.md) — so the ranks
    ride the grouped TWO-LEVEL distributed rank (price-quantile
    sub-buckets ranked in parallel inside each cell + a ≤64-row
    per-cell offset prefix); ntile(4) is recovered arithmetically from
    (rank, cell size) and, because (price, key) is a total order,
    cume_dist() ≡ rank / n exactly."""
    from is3107datapipelineproject_spark.operators.ranking import (
        distributed_rank,
        ntile_from_rank,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("o_year"),
        "o_orderkey",
        "o_totalprice",
    )
    ranked = distributed_rank(
        o,
        "o_totalprice",
        ["o_orderkey"],
        group_cols=["o_orderpriority", "o_year"],
        rank_col="__rn",
        count_col="__n",
    )
    return ranked.select(
        "o_orderpriority",
        "o_year",
        "o_orderkey",
        "o_totalprice",
        ntile_from_rank(F.col("__rn"), F.col("__n"), 4).alias("quartile"),
        F.round(F.col("__rn").cast("double") / F.col("__n"), 6).alias("cume"),
    )


@register(
    "numeric_corr",
    oracle="""
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS s_q,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS ss_q,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS s_p,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS ss_p,
         sum(CAST(CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS s_d,
         sum(CAST(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS ss_d,
         sum(CAST(CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS s_t,
         sum(CAST(CAST(l_tax AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS ss_t,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sp_q_p,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sp_q_d,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sp_q_t,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sp_p_d,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sp_p_t,
         sum(CAST(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sp_d_t
  FROM lineitem
),
pairs AS (
  SELECT 'l_quantity' AS col1, 'l_extendedprice' AS col2, n, sp_q_p AS sp, s_q AS sa, ss_q AS ssa, s_p AS sb, ss_p AS ssb FROM m
  UNION ALL SELECT 'l_quantity', 'l_discount', n, sp_q_d, s_q, ss_q, s_d, ss_d FROM m
  UNION ALL SELECT 'l_quantity', 'l_tax', n, sp_q_t, s_q, ss_q, s_t, ss_t FROM m
  UNION ALL SELECT 'l_extendedprice', 'l_discount', n, sp_p_d, s_p, ss_p, s_d, ss_d FROM m
  UNION ALL SELECT 'l_extendedprice', 'l_tax', n, sp_p_t, s_p, ss_p, s_t, ss_t FROM m
  UNION ALL SELECT 'l_discount', 'l_tax', n, sp_d_t, s_d, ss_d, s_t, ss_t FROM m
)
SELECT col1, col2, n,
       round(CASE WHEN sqrt((CAST(n AS DOUBLE) * CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) > 0
                  THEN (CAST(n AS DOUBLE) * CAST(sp AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                       / sqrt((CAST(n AS DOUBLE) * CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
             END, 4) AS corr
FROM pairs
""",
    tags=("agg", "stats"),
)
def q_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the fact table's numeric columns
    (operators/stats.py::pearson_corr_matrix): ONE corpus pass reduces
    100 TB to 15 DECIMAL-exact moment sums (map-side partials, nothing
    row-sized crosses the shuffle); each pair's r is a single fixed
    double expression over that 1-row frame, rounded — the profiling
    query a warehouse runs before feature selection."""
    from is3107datapipelineproject_spark.operators.stats import pearson_corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    return pearson_corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


@register(
    "ab_test_summary",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) / 268435456.0 < 0.5 AS is_a,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14 AS conv
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN is_a AND conv THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN NOT is_a AND conv THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
  FROM u
)
SELECT n_a, n_b, conv_a, conv_b,
       round(CAST(conv_a AS DOUBLE) / n_a, 4) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / n_b, 4) AS rate_b,
       round(CASE WHEN n_a > 0 AND n_b > 0
                   AND sqrt((CAST(conv_a AS DOUBLE) + conv_b) / (CAST(n_a AS DOUBLE) + n_b)
                            * (1.0 - (CAST(conv_a AS DOUBLE) + conv_b) / (CAST(n_a AS DOUBLE) + n_b))
                            * (1.0 / n_a + 1.0 / n_b)) > 0
                  THEN (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                       / sqrt((CAST(conv_a AS DOUBLE) + conv_b) / (CAST(n_a AS DOUBLE) + n_b)
                              * (1.0 - (CAST(conv_a AS DOUBLE) + conv_b) / (CAST(n_a AS DOUBLE) + n_b))
                              * (1.0 / n_a + 1.0 / n_b))
             END, 4) AS z_score
FROM c
""",
    tags=("events", "stats"),
)
def q_ab_test_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B readout (operators/stats.py::ab_test_ztest):
    users hash-assigned to arms with the hash_split md5 primitive
    (membership stable under corpus growth), conversion = a
    heavy-purchaser threshold (>= 14 purchase events, ~the per-user
    median so both arms have real variance); one user-keyed aggregate reduces everything to 4 integers,
    the pooled z statistic is one pinned double expression rounded to
    4 dp."""
    from is3107datapipelineproject_spark.operators.stats import ab_test_ztest

    ev = _t(spark, sf_dir, "events")
    return ab_test_ztest(
        ev,
        "user_id",
        success=F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14,
    )


@register(
    "scd2_order_priority",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d, o_orderpriority
  FROM orders
),
t AS (
  SELECT *,
         row_number() OVER w AS rn1,
         CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS brk
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
),
isl AS (
  SELECT *, sum(brk) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM t
),
runs AS (
  SELECT o_custkey, min(o_orderpriority) AS priority, min(d) AS eff_from,
         CAST(count(*) AS BIGINT) AS n_orders, min(rn1) AS srn
  FROM isl GROUP BY o_custkey, island
)
SELECT o_custkey, priority, eff_from,
       coalesce(lead(eff_from) OVER w2, DATE '9999-12-31') AS eff_to,
       n_orders,
       CAST(row_number() OVER w2 AS BIGINT) AS version
FROM runs
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY srn)
""",
    tags=("window", "warehouse"),
)
def q_scd2_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build from an event log: each
    customer's order-priority history collapsed to validity intervals
    (gaps-and-islands) with eff_from/eff_to (open rows close at the
    9999-12-31 sentinel) and version — the warehouse
    dimension-maintenance pattern key-based CDC can't produce. Islands
    come from a break-flag running sum so EVERY window partitions by
    o_custkey alone: one shuffle, all four window functions reuse the
    exchange; the run aggregate and the version/lead pass stay on the
    same key."""
    return _scd2_frame(spark, sf_dir)


def _scd2_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderpriority",
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    brk = (
        F.when(
            ~F.lag("o_orderpriority").over(w).eqNullSafe(F.col("o_orderpriority")), 1
        ).otherwise(0)
    )
    t = o.withColumn("rn1", F.row_number().over(w)).withColumn(
        "island", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = t.groupBy("o_custkey", "island").agg(
        F.min("o_orderpriority").alias("priority"),
        F.min("d").alias("eff_from"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("rn1").alias("srn"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("srn")
    return runs.select(
        "o_custkey",
        "priority",
        "eff_from",
        F.coalesce(F.lead("eff_from").over(w2), F.lit("9999-12-31").cast("date")).alias("eff_to"),
        "n_orders",
        F.row_number().over(w2).cast("long").alias("version"),
    )


@register(
    "ols_price_by_qty",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sx,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sy,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sxx,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS syy,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sxy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 4) AS slope,
       round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                  THEN (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                       / CAST(n AS DOUBLE) END, 4) AS intercept,
       round(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0)
                   AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0)
                  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 4) AS r2
FROM m
""",
    tags=("agg", "stats"),
)
def q_ols_price_by_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag simple regression of extended price on quantity
    (operators/stats.py::grouped_ols): the moment aggregate shuffles
    #groups rows of constant state, slope/intercept/r² are fixed
    rounded expressions — trend fitting at fact-table scale without
    collecting anything."""
    from is3107datapipelineproject_spark.operators.stats import grouped_ols

    li = _t(spark, sf_dir, "lineitem")
    return grouped_ols(li, "l_returnflag", "l_quantity", "l_extendedprice")


@register(
    "window_time_range_avg",
    oracle="""
SELECT event_id,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / count(*) OVER w, 4) AS avg_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""",
    tags=("window", "events"),
)
def q_window_time_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE moving average: per user, mean event value over the
    trailing hour — the true event-time window (ROWS frames lie when
    event density varies). Spark evaluates RANGE on the epoch-seconds
    ordering key, one shuffle on user_id shared by the frame scan; the
    DECIMAL window sum makes the mean frame-order-independent so the
    interval-frame oracle replays it exactly. Skew note: a 100-TB
    hot-user partition is bounded by the 1-hour frame, not the user's
    history."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            4,
        ).alias("avg_1h"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    tags=("agg", "tpch"),
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube are sugar
    for): detail, per-flag, and grand-total revenue in ONE pass —
    Catalyst expands the sets with a single Expand node over one scan,
    so three aggregation grains cost one shuffle. grouping_id
    disambiguates real NULLs from subtotal rows, exactly as the
    warehouse consumer expects."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


@register(
    "mode_median_stats",
    oracle="""
WITH md AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         round(median(l_quantity), 4) AS median_qty
  FROM lineitem GROUP BY 1
),
mc AS (
  SELECT l_returnflag, l_quantity, count(*) AS c FROM lineitem GROUP BY 1, 2
),
mo AS (
  SELECT l_returnflag, l_quantity AS mode_qty
  FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY c DESC, l_quantity ASC) AS rn FROM mc)
  WHERE rn = 1
)
SELECT md.l_returnflag, md.n, md.median_qty, mo.mode_qty
FROM md JOIN mo USING (l_returnflag)
""",
    tags=("agg", "stats", "tpch"),
)
def q_mode_median_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group median + DETERMINISTIC mode. Spark's mode() breaks
    frequency ties arbitrarily (engine-dependent), so the mode is
    computed as count-then-rank with ties to the smallest value — the
    formulation that replays identically in any engine. Median uses the
    built-in exact percentile (one sort-based aggregate per group);
    mode adds one (group, value) pre-aggregate (map-side combined)
    before the #distinct-values-sized ranking window."""
    li = _t(spark, sf_dir, "lineitem")
    md = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
    )
    mc = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_quantity"))
    mo = (
        mc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    return md.join(mo, "l_returnflag")


@register(
    "approx_percentile_tdigest",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99,
       TRUE AS p50_within_tol,
       TRUE AS p99_within_tol
FROM lineitem GROUP BY 1
""",
    tags=("agg", "sketch", "stats"),
)
def q_approx_percentile_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable quantile summary — the percentile
    you can actually afford per group at 100 TB, where the exact
    sort-based aggregate pays a per-group sort) with the
    approx_distinct-style hash-checkable contract: the raw sketch value
    is engine-specific, so the emitted row is (group, exact p50/p99,
    approx-within-0.5%-relative booleans). accuracy=10000 bounds rank
    error at 1/10000, so 0.5% value tolerance on this smooth
    distribution is conservative; the oracle emits TRUE and the row
    only hashes if the sketch actually lands inside."""
    li = _t(spark, sf_dir, "lineitem")
    # r13 (guide §1.2 step 2): ONE exact-percentile aggregate and ONE
    # sketch per group, each evaluated at both quantiles via the array
    # form — the scalar form built (and sorted/merged) an independent
    # per-group value map PER CALL, doubling the aggregation state and
    # the single-threaded final-merge work for identical values.
    ex = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.99))").alias("_ex"),
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.99), 10000)").alias("_ap"),
    ).select(
        "l_returnflag",
        F.round(F.element_at("_ex", 1), 4).alias("exact_p50"),
        F.round(F.element_at("_ex", 2), 4).alias("exact_p99"),
        F.element_at("_ap", 1).alias("_a50"),
        F.element_at("_ap", 2).alias("_a99"),
    )
    return ex.select(
        "l_returnflag",
        "exact_p50",
        "exact_p99",
        (F.abs(F.col("_a50") - F.col("exact_p50")) <= F.col("exact_p50") * 0.005).alias(
            "p50_within_tol"
        ),
        (F.abs(F.col("_a99") - F.col("exact_p99")) <= F.col("exact_p99") * 0.005).alias(
            "p99_within_tol"
        ),
    )


_SCD2_CTE = """
o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d, o_orderpriority
  FROM orders
),
t AS (
  SELECT *,
         row_number() OVER w AS rn1,
         CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS brk
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
),
isl AS (
  SELECT *, sum(brk) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM t
),
runs AS (
  SELECT o_custkey, min(o_orderpriority) AS priority, min(d) AS eff_from,
         CAST(count(*) AS BIGINT) AS n_orders, min(rn1) AS srn
  FROM isl GROUP BY o_custkey, island
),
scd AS (
  SELECT o_custkey, priority, eff_from,
         coalesce(lead(eff_from) OVER w2, DATE '9999-12-31') AS eff_to,
         n_orders,
         CAST(row_number() OVER w2 AS BIGINT) AS version
  FROM runs
  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY srn)
)"""


@register(
    "scd2_asof_lookup",
    oracle=f"""
WITH {_SCD2_CTE}
SELECT o.o_orderkey, o.o_custkey,
       o.d + INTERVAL 30 DAY AS lookup_date,
       scd.priority AS priority_then,
       scd.version AS version_then
FROM o JOIN scd ON scd.o_custkey = o.o_custkey
   AND scd.eff_from <= o.d + INTERVAL 30 DAY
   AND o.d + INTERVAL 30 DAY < scd.eff_to
""",
    tags=("window", "warehouse", "temporal"),
)
def q_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the type-2 SCD: which
    priority regime was each customer in 30 days AFTER each order — the
    versioned-dimension join every event-time-correct warehouse query
    needs (joining the CURRENT dimension row silently rewrites
    history). Equi-join on o_custkey with the half-open interval
    residual [eff_from, eff_to); per-customer fan-out is bounded by the
    version count, and the SCD build is already partitioned on the same
    key, so the lookup reuses that exchange instead of adding one. The
    +30-day shift makes the answer non-trivial (an order's OWN version
    would echo its priority back)."""
    scd = _scd2_frame(spark, sf_dir).withColumnRenamed("o_custkey", "ck")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("lookup_date"),
    )
    return (
        o.join(scd, o.o_custkey == scd.ck)
        .filter((F.col("eff_from") <= F.col("lookup_date")) & (F.col("lookup_date") < F.col("eff_to")))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("lookup_date").cast("timestamp").alias("lookup_date"),
            F.col("priority").alias("priority_then"),
            F.col("version").alias("version_then"),
        )
    )


@register(
    "seasonal_decompose_dow",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
idx AS (
  SELECT d, n, CAST(dayofweek(d) AS INT) AS dow,
         CAST(date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) AS BIGINT) AS di
  FROM daily
),
w AS (
  SELECT d, n, dow,
         CAST(sum(n) OVER (ORDER BY di RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS w7,
         CAST(count(*) OVER (ORDER BY di RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS c7
  FROM idx
),
full7 AS (SELECT d, n, dow, w7, 7 * n - w7 AS dev7 FROM w WHERE c7 = 7),
seas AS (
  SELECT dow, CAST(sum(dev7) AS BIGINT) AS s_num, CAST(count(*) AS BIGINT) AS s_cnt
  FROM full7 GROUP BY 1
)
SELECT f.d, f.n,
       round(CAST(f.w7 AS DOUBLE) / 7, 4) AS trend,
       round(CAST(s.s_num AS DOUBLE) / (7 * s.s_cnt), 4) AS seasonal,
       round(CAST(f.n AS DOUBLE) - CAST(f.w7 AS DOUBLE) / 7
             - CAST(s.s_num AS DOUBLE) / (7 * s.s_cnt), 4) AS residual
FROM full7 f JOIN seas s USING (dow)
""",
    tags=("events", "timeseries"),
)
def q_seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event series
    (STL-lite): trend = centered 7-day moving average, seasonal =
    day-of-week mean deviation, residual = remainder — the load-shape
    model behind capacity planning and the detrended twin of
    daily_anomaly_zscore. Determinism contract: every aggregate is a
    BIGINT sum (the deviation is kept as the INTEGER 7·n − Σ₇n, never a
    pre-divided double), and each output is a single fixed float
    expression over exact integers, rounded at 4 dp — no
    accumulation-order-dependent float sums anywhere. Plan: corpus
    collapses to one daily aggregate; the trend window is a RANGE frame
    over the day index on that tiny frame; the seasonal join is a
    7-row broadcast."""
    e = _t(spark, sf_dir, "events").select(F.date_trunc("day", "ts").alias("d"))
    daily = e.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    idx = daily.select(
        "d",
        "n",
        F.dayofweek(F.col("d")).cast("int").alias("dow"),
        F.datediff(F.col("d").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("di"),
    )
    from pyspark.sql import Window

    frame = Window.orderBy("di").rangeBetween(-3, 3)
    w = idx.select(
        "d",
        "n",
        "dow",
        F.sum("n").over(frame).cast("long").alias("w7"),
        F.count(F.lit(1)).over(frame).cast("long").alias("c7"),
    )
    full7 = w.filter(F.col("c7") == 7).withColumn(
        "dev7", F.lit(7) * F.col("n") - F.col("w7")
    )
    seas = full7.groupBy("dow").agg(
        F.sum("dev7").cast("long").alias("s_num"),
        F.count(F.lit(1)).cast("long").alias("s_cnt"),
    )
    trend = F.col("w7").cast("double") / 7
    seasonal = F.col("s_num").cast("double") / (7 * F.col("s_cnt"))
    return full7.join(F.broadcast(seas), "dow").select(
        "d",
        "n",
        F.round(trend, 4).alias("trend"),
        F.round(seasonal, 4).alias("seasonal"),
        F.round(F.col("n").cast("double") - trend - seasonal, 4).alias("residual"),
    )


@register(
    "top_conversion_paths",
    oracle="""
WITH paths AS (
  SELECT user_id, date_trunc('day', ts) AS d,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path LIMIT 20
""",
    tags=("events", "window", "funnel"),
)
def q_top_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top behavioral paths: each (user, day) episode's ordered
    event-type sequence collapsed to a path string, ranked by
    frequency — the path-mining view behind funnel design (which
    journeys actually happen, not which were hypothesized). Ordering
    inside a path is total — sort_array over (ts, event_id, type)
    structs, the same (ts, event_id) tie-break every sessionization in
    this repo uses — so Spark's unordered collect_list and the
    oracle's ORDER BY string_agg agree exactly. Plan: ONE shuffle on
    (user, day) builds the episodes (partial collect map-side), the
    path histogram groups on the path string, top-20 via
    TakeOrderedAndProject. Paths per episode are bounded by per-user
    daily activity, not corpus size."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("d"), "ts", "event_id", "event_type"
    )
    eps = ev.groupBy("user_id", "d").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias("seq")
    )
    paths = eps.select(
        F.concat_ws(">", F.transform(F.col("seq"), lambda s: s["event_type"])).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@register(
    "time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
  FROM events
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_intervals,
         CAST(sum(cents * (t_next - t)) AS BIGINT) AS wsum,
         CAST(sum(t_next - t) AS BIGINT) AS dur
  FROM seq WHERE t_next IS NOT NULL GROUP BY 1
)
SELECT user_id, n_intervals,
       round(CAST(wsum AS DOUBLE) / (100.0 * dur), 4) AS twa
FROM agg WHERE dur > 0
""",
    tags=("events", "window", "timeseries"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average of the event value — each reading
    holds until the next one (the step-function integral metering and
    billing pipelines need; a plain AVG over-weights bursts).
    Determinism contract: the 2-dp value column converts to exact
    BIGINT cents via round(value·100) (plain CAST truncates in one
    engine and rounds in the other — a real cross-engine trap), holding
    durations are exact BIGINT microseconds from the (ts, event_id)
    total order, so the weighted sum is pure integer arithmetic; ONE
    float division at the end, rounded to 4 dp. Plan: one window pass
    on the user-key partitioning for lead(), then a per-user aggregate
    on the same exchange — the fact shuffles once."""
    ev = _t(spark, sf_dir, "events").select("user_id", "value", "ts", "event_id")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros(F.col("ts")).alias("t"),
        F.lead(F.unix_micros(F.col("ts"))).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    agg = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("cents") * (F.col("t_next") - F.col("t"))).cast("long").alias("wsum"),
        F.sum(F.col("t_next") - F.col("t")).cast("long").alias("dur"),
    )
    return agg.filter(F.col("dur") > 0).select(
        "user_id",
        "n_intervals",
        F.round(F.col("wsum").cast("double") / (F.lit(100.0) * F.col("dur")), 4).alias("twa"),
    )


@register(
    "activity_streaks",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS eday
  FROM events
),
i AS (
  SELECT user_id, eday,
         eday - row_number() OVER (PARTITION BY user_id ORDER BY eday) AS anchor
  FROM d
),
s AS (SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len FROM i GROUP BY 1, 2)
SELECT user_id,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(sum(len) AS BIGINT) AS active_days
FROM s GROUP BY 1
""",
    tags=("events", "window", "timeseries"),
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-active-day streaks — the classic
    gaps-and-islands shape (retention/engagement reporting). Island key
    is ``epoch_day − row_number()`` over the per-user day sequence:
    constant exactly across a consecutive run, pure BIGINT arithmetic
    (no date-type cross-engine drift — days are integer days since
    epoch on both sides). Plan: the fact collapses map-side to the
    distinct (user, day) frame, then ONE user-key exchange serves the
    row_number window, the island aggregate, and the per-user rollup —
    Catalyst chains all three on the same partitioning."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("long").alias("eday"),
    )
    days = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("eday")
    isl = days.select(
        "user_id",
        "eday",
        (F.col("eday") - F.row_number().over(w)).alias("anchor"),
    )
    streaks = isl.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).cast("long").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


@register(
    "revenue_gini",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS rn,
         count(*) OVER () AS n
  FROM rev
),
agg AS (
  -- sums stay HUGEINT (DuckDB's native widening) — the Spark twin uses
  -- DECIMAL(38,0) for the same exact-integer headroom
  SELECT CAST(max(n) AS BIGINT) AS n,
         sum(cents) AS s,
         sum(rn * cents) AS w,
         sum(CASE WHEN rn > n - (n + 9) // 10 THEN cents END) AS top_cents
  FROM ranked
)
SELECT n AS n_customers,
       round((2.0 * w - (n + 1.0) * s) / (CAST(n AS DOUBLE) * s), 4) AS gini,
       round(CAST(top_cents AS DOUBLE) / s, 4) AS top_decile_share
FROM agg
""",
    tags=("agg", "analytics", "governance"),
)
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: Gini coefficient + top-decile share
    of per-customer revenue — the inequality metric corpus-governance
    reports reuse for source concentration. Determinism: revenue is
    exact BIGINT cents (round(price·100) — the cross-engine-safe
    conversion), the rank weights Σrn·cents and totals stay integer
    (ties in cents cannot perturb Σrn·cents: the rank sum over an
    equal-value run is order-invariant), TWO float divisions at the end,
    rounded 4 dp. Plan: fact collapses to the customer frame map-side
    and localCheckpoints once (cutoff pass + rank pass share it); ranks
    come from the TWO-LEVEL distributed rank
    (operators.ranking.distributed_rank: quantile cutoffs →
    order-aligned value buckets ranked in parallel + a ≤64-row offset
    prefix) — NO single-task sort over the customer-growing frame;
    final aggregate is 1 row. At extreme scale Σrn·cents approaches
    BIGINT range — the rank-weighted sums accumulate in DECIMAL(38,0)."""
    from is3107datapipelineproject_spark.operators.ranking import distributed_rank

    o = _t(spark, sf_dir, "orders")
    rev = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents")
        )
        .localCheckpoint(eager=False)
    )
    ranked = distributed_rank(
        rev, "cents", ["o_custkey"], rank_col="rn", count_col="n"
    ).select("cents", "rn", "n")
    k = F.expr("(n + 9) DIV 10")  # integer ceil(n/10), no float detour
    top_flag = F.col("rn") > (F.col("n") - k)
    # Σrn·cents approaches n·Σcents ≫ BIGINT range at ×100 already
    # (measured: ANSI long-overflow at 150k customers × 15M orders), so
    # the rank-weighted sums accumulate in DECIMAL(38,0) — still exact
    # integer arithmetic, ~1e38 headroom; doubles only at the division.
    agg = ranked.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("rn").cast("decimal(19,0)") * F.col("cents").cast("decimal(18,0)")).alias("w"),
        F.sum(F.when(top_flag, F.col("cents")).cast("decimal(38,0)")).alias("top_cents"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(
            (2.0 * F.col("w").cast("double")
             - (F.col("n") + F.lit(1.0)) * F.col("s").cast("double"))
            / (F.col("n").cast("double") * F.col("s").cast("double")),
            4,
        ).alias("gini"),
        F.round(
            F.col("top_cents").cast("double") / F.col("s").cast("double"), 4
        ).alias("top_decile_share"),
    )


@register(
    "cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
cum AS (
  SELECT d, cnt,
         CAST(sum(cnt) OVER (ORDER BY d) AS BIGINT) AS c,
         row_number() OVER (ORDER BY d) AS k,
         CAST(sum(cnt) OVER () AS BIGINT) AS t,
         count(*) OVER () AS n
  FROM daily
)
SELECT d AS change_day,
       CAST(c * n - k * t AS BIGINT) AS cusum_scaled,
       CAST(n AS BIGINT) AS n_days
FROM cum
ORDER BY abs(c * n - k * t) DESC, d
LIMIT 1
""",
    tags=("events", "timeseries", "diagnostics"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point over the daily event-volume series: the day
    k maximizing |Σ_{d≤k}(cnt_d − mean)| — where the cumulative
    deviation from the global mean peaks, i.e. where the level shifts.
    Determinism: the deviation sum is SCALED BY n so it stays pure
    BIGINT (cum·n − k·total — no float mean ever enters), the argmax
    tiebreaks on earliest day. Plan: fact collapses map-side to the
    day-count frame (#days rows); the unpartitioned cumulative window
    is a single task over that TINY frame; TakeOrderedAndProject picks
    the winner — no full sort materializes."""
    e = _t(spark, sf_dir, "events").select(F.date_trunc("day", "ts").alias("d"))
    daily = e.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wc = Window.orderBy("d")
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = daily.select(
        "d",
        F.sum("cnt").over(wc).cast("long").alias("c"),
        F.row_number().over(wc).alias("k"),
        F.sum("cnt").over(wall).cast("long").alias("t"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    s = (F.col("c") * F.col("n") - F.col("k") * F.col("t")).cast("long")
    return (
        cum.select(
            F.col("d").alias("change_day"),
            s.alias("cusum_scaled"),
            F.col("n").alias("n_days"),
        )
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "change_day")
        .limit(1)
    )


# --- round 6: smoothing + autocorrelation over the daily revenue series -----


@register(
    "ewma_daily_revenue",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
x AS (
  SELECT a.d, unnest(generate_series(0, 27)) AS k FROM daily a
),
j AS (
  SELECT x.d,
         CAST(round(pow(0.5, x.k / 7.0) * 1000000) AS BIGINT) AS wk,
         b.cents
  FROM x JOIN daily b ON b.d = x.d - x.k * INTERVAL 1 DAY
),
s AS (
  SELECT d,
         CAST(count(*) AS BIGINT) AS n_days,
         sum(CAST(cents AS DECIMAL(38,0)) * wk) AS num,
         CAST(sum(wk) AS BIGINT) AS den
  FROM j GROUP BY 1
)
SELECT s.d, daily.cents,
       round(CAST(s.num AS DOUBLE) / CAST(s.den AS DOUBLE) / 100.0, 4) AS ewma_revenue,
       s.n_days
FROM s JOIN daily USING (d)
""",
    tags=("warehouse", "timeseries"),
)
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily order revenue
    (half-life 7 days, window truncated at 28): the smoothing pass a
    revenue dashboard runs over the raw daily series. The variable
    per-pair weight (1/2)^((t-i)/7) rules out a plain frame-bounded
    window SUM, and a range self-join would nested-loop; instead each
    anchor day EXPLODES its 28 fixed offsets and equi-joins the daily
    frame on the shifted date — shuffle-hash on a date key, never a
    cross product. Corpus-scale work is exactly one groupBy(day); the
    spine-squared stage is #days x 28 rows no matter how many orders
    feed it. Determinism: weights are the 28 integers
    round(2^(-k/7)*1e6) (verified identical in Spark and DuckDB),
    revenue is BIGINT cents, the weighted sum accumulates in
    DECIMAL(38,0) (BIGINT would overflow at ~1e5x this SF), and the
    single double division is rounded to 4dp."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("day", "o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    daily = o.groupBy("d").agg(F.sum("cents").cast("long").alias("cents"))
    x = daily.select("d", F.explode(F.sequence(F.lit(0), F.lit(27))).alias("k"))
    wk = F.round(F.pow(F.lit(0.5), F.col("k") / 7.0) * 1000000).cast("long")
    b = daily.select(F.col("d").alias("bd"), F.col("cents").alias("bcents"))
    j = x.withColumn("wk", wk).join(
        b, F.col("bd") == F.expr("d - make_interval(0, 0, 0, k)"), "inner"
    )
    s = j.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("bcents").cast("decimal(38,0)") * F.col("wk")).alias("num"),
        F.sum("wk").cast("long").alias("den"),
    )
    return s.join(daily, "d").select(
        "d",
        "cents",
        F.round(F.col("num").cast("double") / F.col("den").cast("double") / 100.0, 4).alias(
            "ewma_revenue"
        ),
        "n_days",
    )


@register(
    "autocorr_daily_revenue",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT l.lag, a.cents AS x, b.cents AS y
  FROM daily a
  JOIN (VALUES (1), (7)) l(lag) ON TRUE
  JOIN daily b ON b.d = a.d - l.lag * INTERVAL 1 DAY
),
m AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
  FROM pairs GROUP BY 1
)
SELECT CAST(lag AS INT) AS lag, n AS n_days,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) AS acf
FROM m
""",
    tags=("warehouse", "timeseries", "diagnostics"),
)
def q_autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1 and 7 —
    the seasonality diagnostic behind the dow decomposition: a strong
    lag-7 ACF says weekly structure, lag-1 says momentum. Each lag
    equi-joins the daily spine against itself shifted by the lag (a
    2-row broadcast lag frame x #days — no window over an unpartitioned
    corpus frame, no cross product), then Pearson r from the six exact
    moments (n, Sx, Sy, Sxy, Sxx, Syy) accumulated in DECIMAL(38,0);
    the only float arithmetic is the one closed-form expression over
    the six casts, identical in both engines, rounded to 4dp. The
    corpus reduces to the #days spine in the first aggregate, so lag
    count scales the spine, never the fact table."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("day", "o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    daily = o.groupBy("d").agg(F.sum("cents").cast("long").alias("cents"))
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(7))).alias("lag")
    )
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(F.col("d").alias("bd"), F.col("cents").alias("y"))
    pairs = a.join(
        b, F.col("bd") == F.expr("d - make_interval(0, 0, 0, lag)"), "inner"
    ).select("lag", F.col("cents").alias("x"), "y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")
    n = d("n")
    acf = F.round(
        (n * d("sxy") - d("sx") * d("sy"))
        / F.sqrt((n * d("sxx") - d("sx") * d("sx")) * (n * d("syy") - d("sy") * d("sy"))),
        4,
    )
    return m.select(F.col("lag").cast("int").alias("lag"), F.col("n").alias("n_days"), acf.alias("acf"))


@register(
    "zorder_events_box",
    oracle="""
WITH d AS (
  SELECT user_id, value,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dy
  FROM events
),
b AS (SELECT min(user_id) AS u0, max(user_id) AS u1,
             min(dy) AS d0, max(dy) AS d1 FROM d)
SELECT CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM d, b
WHERE user_id BETWEEN u0 AND u0 + (u1 - u0) // 4
  AND dy BETWEEN d0 AND d0 + (d1 - d0) // 4
""",
    tags=("events", "materialize", "layout"),
)
def q_zorder_events_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box query (user range AND time range) against the Z-ORDERED
    events table (plans/indexes.py::zorder_events_table — Morton-
    interleaved user/day, range-partitioned + sorted by z-value). The
    box bounds (first quarter of each dimension) are resolved to
    LITERALS via a 1-row eager bounds scan — the same control-plane
    pattern as ivfpq_topk_from_index's cluster-id guard, and the whole
    point: literal min/max predicates on BOTH user_id and ts reach the
    parquet scan as PushedFilters, and because the z-curve clusters
    both dimensions at once, row groups outside the box fail their
    stats check on one dimension or the other — the 100 TB box query
    reads ~the box, not the corpus (overlap measured against a
    time-sorted layout in test_zorder_layout_prunes_boxes). The oracle
    runs the same box over the RAW events parquet, which is exactly the
    layout-rewrite-lost-no-rows check."""
    import datetime

    from is3107datapipelineproject_spark.plans.indexes import zorder_events_table

    z = zorder_events_table(spark, sf_dir)
    zb = z.select(
        "user_id", "value", "ts", F.unix_date(F.to_date("ts")).cast("long").alias("dy")
    )
    u0, u1, d0, d1 = zb.agg(
        F.min("user_id"), F.max("user_id"), F.min("dy"), F.max("dy")
    ).first()
    uhi = u0 + (u1 - u0) // 4
    epoch = datetime.datetime(1970, 1, 1)
    lo_ts = epoch + datetime.timedelta(days=int(d0))
    hi_ts = epoch + datetime.timedelta(days=int(d0 + (d1 - d0) // 4) + 1)
    return (
        z.filter(
            (F.col("user_id") >= int(u0))
            & (F.col("user_id") <= int(uhi))
            & (F.col("ts") >= F.lit(lo_ts))
            & (F.col("ts") < F.lit(hi_ts))
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("value_cents"),
        )
    )


@register(
    "ks_test_priority_revenue",
    oracle="""
WITH s AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         o_orderpriority = '1-URGENT' AS g1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
n AS (
  SELECT CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT) AS n2
  FROM s
),
d AS (
  SELECT v,
         CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(sum(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT) AS k2
  FROM s GROUP BY 1
),
c AS (
  SELECT v,
         CAST(sum(k1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
         CAST(sum(k2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
  FROM d
),
x AS (
  SELECT v, abs(CAST(c1 AS DECIMAL(38,0)) * n2 - CAST(c2 AS DECIMAL(38,0)) * n1) AS dev
  FROM c, n
)
SELECT n1, n2,
       round(CAST(dev AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 4) AS ks_d,
       v AS ks_at
FROM x, n ORDER BY dev DESC, v LIMIT 1
""",
    tags=("warehouse", "diagnostics", "stats"),
)
def q_ks_test_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    URGENT and LOW order-price distributions — the drift test a data
    pipeline runs between releases ('did this slice's distribution
    move?'). D = max |F1 − F2| needs both empirical CDFs at every
    distinct value: per-value counts (one aggregate), then running
    sums under the value order via the two-level distributed cumsum
    (operators/ranking.py::distributed_cumsum) — the CDF is never built
    in a single-task sort, and the deviation |c1·n2 − c2·n1| stays in
    exact DECIMAL(38,0) integer arithmetic so the argmax (ties → the
    smallest value) is engine-independent; the only float op is the
    final rounded division. Output: sizes, D, and the value where the
    gap is attained."""
    from is3107datapipelineproject_spark.operators.ranking import distributed_cumsum

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    s = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").alias("g1"),
    )
    d = s.groupBy("v").agg(
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast("long").alias("k1"),
        F.sum(F.when(F.col("g1"), 0).otherwise(1)).cast("long").alias("k2"),
    )
    c = distributed_cumsum(d, "v", ["k1", "k2"])
    n = d.agg(
        F.sum("k1").cast("long").alias("n1"), F.sum("k2").cast("long").alias("n2")
    )
    x = c.crossJoin(F.broadcast(n)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("k1_cum").cast("decimal(38,0)") * F.col("n2")
            - F.col("k2_cum").cast("decimal(38,0)") * F.col("n1")
        ).alias("dev"),
    )
    return (
        x.orderBy(F.col("dev").desc(), "v")
        .limit(1)
        .select(
            "n1",
            "n2",
            F.round(
                F.col("dev").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                4,
            ).alias("ks_d"),
            F.col("v").alias("ks_at"),
        )
    )


@register(
    "time_to_convert_quantiles",
    oracle="""
WITH fv AS (
  SELECT user_id, min(ts) AS fv FROM events WHERE event_type = 'view' GROUP BY 1
),
fp AS (
  SELECT e.user_id, f.fv, min(e.ts) AS fp
  FROM events e JOIN fv f USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > f.fv GROUP BY 1, 2
),
d AS (SELECT user_id, (epoch_us(fp) - epoch_us(fv)) // 1000000 AS dur_s FROM fp),
r AS (
  SELECT user_id, dur_s,
         row_number() OVER (ORDER BY dur_s, user_id) AS rn,
         count(*) OVER () AS n
  FROM d
)
SELECT q, CAST(n AS BIGINT) AS n_users, CAST(dur_s AS BIGINT) AS seconds
FROM r JOIN (VALUES (25), (50), (75), (90)) t(q)
  ON rn = CAST(ceil(q * n / 100.0) AS BIGINT)
""",
    tags=("events", "funnel", "stats"),
)
def q_time_to_convert_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT conversion-latency percentiles (P25/50/75/90 of first-view
    → first-subsequent-purchase, in whole seconds) — the funnel-health
    distribution behind events_funnel's counts. Durations are exact
    BIGINT seconds (µs difference floor-divided — both engines take the
    same integer floor); the percentile is the rank-statistics
    definition (value at rank ⌈q·n/100⌉ under a total order), computed
    with the two-level distributed rank so no single task ever sorts
    the per-user duration frame, then a 4-row broadcast of the
    requested quantiles picks the target ranks. Exact order statistics
    at corpus scale — the honest sibling of the t-digest approximation
    in approx_percentile_tdigest."""
    from is3107datapipelineproject_spark.operators.ranking import distributed_rank

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    fv = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("fv")
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("fv"))
        .groupBy("user_id", "fv")
        .agg(F.min("ts").alias("fp"))
    )
    d = fp.select(
        "user_id",
        F.floor(
            (F.unix_micros("fp") - F.unix_micros("fv")) / F.lit(1000000.0)
        ).cast("long").alias("dur_s"),
    )
    r = distributed_rank(d, "dur_s", ["user_id"], rank_col="rn", count_col="n")
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(25), F.lit(50), F.lit(75), F.lit(90))).alias("q")
    )
    return (
        r.crossJoin(F.broadcast(qs))
        .filter(
            F.col("rn")
            == F.ceil(F.col("q") * F.col("n") / F.lit(100.0)).cast("long")
        )
        .select("q", F.col("n").alias("n_users"), F.col("dur_s").alias("seconds"))
    )


@register(
    "winsorized_revenue_stats",
    oracle="""
WITH s AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
),
r AS (
  SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM s
),
k AS (
  SELECT CAST(ceil(0.05 * n) AS BIGINT) AS klo,
         CAST(ceil(0.95 * n) AS BIGINT) AS khi, n
  FROM r LIMIT 1
),
cut AS (
  SELECT k.n, k.klo, k.khi,
         (SELECT v FROM r WHERE rn = k.klo) AS vlo,
         (SELECT v FROM r WHERE rn = k.khi) AS vhi
  FROM k
),
agg AS (
  SELECT
    sum(CAST(v AS DECIMAL(38,0))) AS sv,
    sum(CAST(least(greatest(v, c.vlo), c.vhi) AS DECIMAL(38,0))) AS sw,
    sum(CASE WHEN rn >= c.klo AND rn <= c.khi THEN CAST(v AS DECIMAL(38,0)) END) AS st,
    sum(CASE WHEN rn >= c.klo AND rn <= c.khi THEN 1 ELSE 0 END) AS nt
  FROM r, cut c
)
SELECT CAST(c.n AS BIGINT) AS n_orders,
       round(CAST(a.sv AS DOUBLE) / c.n / 100.0, 4) AS mean_revenue,
       round(CAST(a.sw AS DOUBLE) / c.n / 100.0, 4) AS winsorized_mean,
       round(CAST(a.st AS DOUBLE) / a.nt / 100.0, 4) AS trimmed_mean
FROM agg a, cut c
""",
    tags=("warehouse", "stats"),
)
def q_winsorized_revenue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust revenue statistics with EXACT rank-based cutoffs: the
    plain mean next to the P5/P95-winsorized mean (tails clamped to the
    exact order-statistic values) and the trimmed mean (tails dropped)
    — the outlier-robust trio a revenue report runs when a few mega-
    orders would otherwise own the average. The cutoff VALUES are exact
    order statistics from the two-level distributed rank (no
    single-task sort, no approximate quantiles — approx cutoffs would
    make the result non-reproducible across runs); clamp and sums are
    exact DECIMAL(38,0) integer arithmetic over BIGINT cents, three
    rounded divisions at the end."""
    from is3107datapipelineproject_spark.operators.ranking import distributed_rank

    s = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    r = distributed_rank(s, "v", ["o_orderkey"], rank_col="rn", count_col="n")
    k = r.select(
        F.ceil(0.05 * F.col("n")).cast("long").alias("klo"),
        F.ceil(0.95 * F.col("n")).cast("long").alias("khi"),
        F.col("n").alias("n_all"),
    ).limit(1)
    vlo = r.join(F.broadcast(k), F.col("rn") == F.col("klo")).select(
        F.col("v").alias("vlo")
    )
    vhi = r.join(F.broadcast(k.select("khi")), F.col("rn") == F.col("khi")).select(
        F.col("v").alias("vhi")
    )
    cut = k.crossJoin(F.broadcast(vlo)).crossJoin(F.broadcast(vhi))
    dec = lambda c: c.cast("decimal(38,0)")
    a = r.drop("n").crossJoin(F.broadcast(cut)).agg(
        F.max("n_all").alias("n_orders"),
        F.sum(dec(F.col("v"))).alias("sv"),
        F.sum(dec(F.least(F.greatest(F.col("v"), F.col("vlo")), F.col("vhi")))).alias("sw"),
        F.sum(
            F.when(
                (F.col("rn") >= F.col("klo")) & (F.col("rn") <= F.col("khi")),
                dec(F.col("v")),
            )
        ).alias("st"),
        F.sum(
            F.when(
                (F.col("rn") >= F.col("klo")) & (F.col("rn") <= F.col("khi")), 1
            ).otherwise(0)
        ).cast("long").alias("nt"),
    )
    return a.select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(F.col("sv").cast("double") / F.col("n_orders") / 100.0, 4).alias(
            "mean_revenue"
        ),
        F.round(F.col("sw").cast("double") / F.col("n_orders") / 100.0, 4).alias(
            "winsorized_mean"
        ),
        F.round(F.col("st").cast("double") / F.col("nt") / 100.0, 4).alias(
            "trimmed_mean"
        ),
    )


# Multiplier-bootstrap weight distribution: a 4-point law on {0,1,2,3}
# with E[w] = 1 and Var[w] = 1 (the two moment conditions multiplier /
# weighted bootstrap theory requires, cf. Mammen 1993), drawn from ONE
# hex byte (256 levels) of an md5 digest: P = (110, 54, 74, 18)/256.
# Cumulative byte cutoffs, interpolated into BOTH engines from here.
_BOOT_CUTS = (110, 164, 238)  # w = #cutoffs <= byte  (110+54+74+18 = 256)
_BOOT_B = 32
_BOOT_LO = max(1, round(0.025 * _BOOT_B))  # rank of the 2.5% order stat
_BOOT_HI = _BOOT_B + 1 - _BOOT_LO


def _boot_oracle() -> str:
    # _BOOT_B replicate draws from _BOOT_B/16 md5 calls: each 128-bit
    # digest yields sixteen independent byte draws (hex substr 1,3,...,31).
    w_of = lambda byte: " + ".join(f"CAST({byte} >= {c} AS INT)" for c in _BOOT_CUTS)
    w_cols = []
    for b in range(_BOOT_B):
        h = f"md5('boot{b // 16}|' || CAST(o_orderkey AS VARCHAR))"
        byte = f"CAST('0x' || substr({h}, {1 + 2 * (b % 16)}, 2) AS BIGINT)"
        w_cols.append(f"({w_of(byte)}) AS w{b}")
    w_sel = ",\n       ".join(w_cols)
    sums = ",\n         ".join(
        f"sum(CAST(w{b} AS HUGEINT) * v) AS swv{b}" for b in range(_BOOT_B)
    )
    b_list = ", ".join(str(b) for b in range(_BOOT_B))
    mb_list = ", ".join(
        f"round(CAST(swv{b} AS DOUBLE) / n_orders / 100.0, 4)" for b in range(_BOOT_B)
    )
    return f"""
WITH v AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
w AS (SELECT v,
       {w_sel}
      FROM v),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
             round(CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) / count(*) / 100.0, 4) AS mean_revenue,
         {sums}
      FROM w),
m AS (SELECT n_orders, mean_revenue,
             unnest([{b_list}]) AS b, unnest([{mb_list}]) AS mb FROM a),
q AS (SELECT n_orders, mean_revenue, mb,
             row_number() OVER (ORDER BY mb, b) AS rn FROM m)
SELECT n_orders, mean_revenue,
       min(CASE WHEN rn = {_BOOT_LO} THEN mb END) AS ci_lo,
       min(CASE WHEN rn = {_BOOT_HI} THEN mb END) AS ci_hi
FROM q GROUP BY 1, 2
""".strip()


@register(
    "multiplier_bootstrap_ci",
    oracle=_boot_oracle(),
    tags=("warehouse", "stats"),
)
def q_multiplier_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multiplier (weighted) bootstrap: a 95%-ish
    confidence interval for mean order revenue from 32 resampling
    replicates in ONE narrow scan with NO row multiplication — each row
    contributes a deterministic mean-1/variance-1 multiplier weight to
    every replicate (Mammen's moment conditions; the 4-point law on
    {0,1,2,3} is drawn from single md5 BYTES, so 32 replicates cost 2
    hashes per row and a weight is three flat byte comparisons), and
    the 32 replicate sums are COLUMNS of one map-side-combined global
    aggregate — the canonical multiplier form mean_b = (1/n)·Σ w·v
    needs exactly one sum per replicate, keeping the aggregate at 34
    fields, UNDER spark.sql.codegen.maxFields=100, so the whole
    scan→project→partial-agg pipeline stays in whole-stage codegen.
    (Rejected shapes, all measured: self-normalized 130-field aggregate
    → codegen disabled + janino 64 KB blowup + ~10 s/plan analysis;
    transform-over-sequence HOF → interpreted eval re-computing the
    digest array per element, 256 md5/row; posexplode to a 64-group agg
    → 64× row materialization, 16 s at sf0.1.) The shuffle moves one
    partial row per task, never data. Replicate means un-pivot into a
    frame of exactly 32 rows (allowlisted) whose extreme order
    statistics are the CI (~94% nominal coverage at B=32 — rank
    ceil(0.025·B) each side; raise _BOOT_B for tighter nominal level,
    cost is linear). Draws are reproducible,
    partition-independent, and bit-identical in both engines (weights
    and cutoffs interpolated from one table); replicate sums accumulate
    in DECIMAL(38,0) (HUGEINT oracle-side): w <= 3, cents <= ~6e7,
    exact far past 100 TB row counts."""
    v = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    key = F.col("o_orderkey").cast("string")
    hdf = v.select(
        "v",
        *[
            F.md5(F.concat(F.lit(f"boot{c}|"), key)).alias(f"h{c}")
            for c in range(_BOOT_B // 16)
        ],
    )
    # Byte extraction in 8-hex-digit chunks (r12 §4/§2.3-style per-task
    # work cut, measured by JVM-CPU A/B): one `conv` per 4 BYTES (8
    # chunks/row) + flat shift/mask per byte, instead of one `conv` per
    # byte (32/row). `conv`'s string parse dominated the projection —
    # 4.37 s -> 2.29 s JVM CPU for the weight stage at sf0.1, byte
    # values (and so weights, sums, CI) bit-identical.
    chunks = [
        F.conv(F.substring(F.col(f"h{c}"), 1 + 8 * hx, 8), 16, 10)
        .cast("long")
        .alias(f"q{c}_{hx}")
        for c in range(_BOOT_B // 16)
        for hx in range(4)
    ]
    qdf = hdf.select("v", *chunks)
    w_cols = []
    for b in range(_BOOT_B):
        c, pos = b // 16, b % 16
        byte = F.shiftrightunsigned(
            F.col(f"q{c}_{pos // 4}"), 8 * (3 - pos % 4)
        ).bitwiseAND(F.lit(255))
        w_cols.append(
            sum([(byte >= F.lit(cut)).cast("int") for cut in _BOOT_CUTS], F.lit(0)).alias(
                f"w{b}"
            )
        )
    wdf = qdf.select("v", *w_cols)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum(F.col("v").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / 100.0,
            4,
        ).alias("mean_revenue"),
    ] + [
        F.sum(F.col(f"w{b}").cast("decimal(38,0)") * F.col("v")).alias(f"swv{b}")
        for b in range(_BOOT_B)
    ]
    a = wdf.agg(*aggs)
    mb = [
        F.round(
            F.col(f"swv{b}").cast("double") / F.col("n_orders") / 100.0, 4
        ).alias(f"mb{b}")
        for b in range(_BOOT_B)
    ]
    m = a.select(
        "n_orders", "mean_revenue", F.posexplode(F.array(*mb)).alias("b", "mb")
    )
    q = m.select(
        "n_orders",
        "mean_revenue",
        "mb",
        F.row_number().over(Window.orderBy("mb", "b")).alias("rn"),
    )
    return q.groupBy("n_orders", "mean_revenue").agg(
        F.min(F.when(F.col("rn") == _BOOT_LO, F.col("mb"))).alias("ci_lo"),
        F.min(F.when(F.col("rn") == _BOOT_HI, F.col("mb"))).alias("ci_hi"),
    )


# FK edges of the star schema: (edge label, child table, child key,
# parent table, parent key). Drives BOTH the Spark plan and the oracle.
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
)


def _fk_oracle() -> str:
    parts = []
    for label, ct, ck, pt, pk in _FK_EDGES:
        parts.append(f"""
SELECT '{label}' AS edge,
       CAST(count(*) AS BIGINT) AS child_rows,
       CAST(sum(CASE WHEN {ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
       CAST(sum(CASE WHEN {ck} IS NOT NULL AND __hit IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans
FROM (SELECT c.{ck}, p.__hit
      FROM {ct} c LEFT JOIN (SELECT DISTINCT {pk}, 1 AS __hit FROM {pt}) p
      ON c.{ck} = p.{pk})""")
    return "\nUNION ALL\n".join(parts)


@register(
    "fk_integrity_audit",
    oracle=_fk_oracle(),
    tags=("warehouse", "dq"),
)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every foreign-key edge of the
    star schema in one report: per edge, the child row count, NULL
    foreign keys (not references, counted separately, never called
    orphans), and orphan rows whose key has no parent — the
    load-validation gate a warehouse runs after every ingest, and the
    query that decides whether downstream inner joins silently drop
    revenue. Plan shape per edge: child keys LEFT JOIN the
    DISTINCT-projected parent key set (Catalyst broadcasts the real
    dims; the fact-to-fact edge lineitem->orders shuffles on the join
    key, the correct shape at 100 TB — neither side is assumed
    broadcastable) collapsing map-side to one row; the 8 one-row
    aggregates union into the report. Counts are exact BIGINTs, no
    floats anywhere."""
    out = None
    for label, ct, ck, pt, pk in _FK_EDGES:
        child = _t(spark, sf_dir, ct).select(F.col(ck).alias("k"))
        par = (
            _t(spark, sf_dir, pt)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        row = (
            child.join(par, "k", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("child_rows"),
                F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("null_keys"),
                F.sum(
                    F.when(
                        F.col("k").isNotNull() & F.col("__hit").isNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("orphans"),
            )
            .select(F.lit(label).alias("edge"), "child_rows", "null_keys", "orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "trend_robust_stats",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
p AS (
  SELECT a.d AS da, b.d AS db, a.cents AS ca, b.cents AS cb
  FROM daily a JOIN daily b ON a.d < b.d
),
sl AS (SELECT da, db, CAST(cb - ca AS DOUBLE) / date_diff('day', da, db) AS s FROM p),
agg AS (SELECT CAST(sum(sign(cb - ca)) AS BIGINT) AS s_stat,
               CAST(count(*) AS BIGINT) AS m FROM p),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
r AS (SELECT s, row_number() OVER (ORDER BY s, da, db) AS rn FROM sl),
med AS (SELECT r.s FROM r, agg WHERE r.rn = (agg.m + 1) // 2)
SELECT nn.n AS n_days, agg.m AS n_pairs, agg.s_stat,
       round((CAST(agg.s_stat AS DOUBLE) - sign(CAST(agg.s_stat AS DOUBLE)))
             / sqrt(nn.n * (nn.n - 1.0) * (2 * nn.n + 5) / 18.0), 4) AS z_stat,
       round(med.s / 100.0, 4) AS sen_slope
FROM agg, nn, med
""",
    tags=("warehouse", "timeseries", "stats"),
)
def q_trend_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric trend test + robust slope for the daily revenue
    series: the Mann-Kendall S statistic and continuity-corrected z
    (is revenue trending at all, with no normality assumption) next to
    the Theil-Sen slope (the MEDIAN of all pairwise day-to-day slopes —
    one mega-order day cannot drag it the way it drags OLS). Scale
    shape: the fact collapses map-side to the day spine (#days rows —
    bounded by the calendar, not the corpus), so the all-pairs frame is
    days²/2 ≈ low millions FOREVER; the pair join broadcasts the tiny
    spine, S and the pair count are exact BIGINT sums, and the exact
    median slope is an order statistic from the two-level
    distributed_rank (value at rank (m+1)//2, lower median, total
    order pinned by (slope, day-pair)). z is one pinned-order double
    expression over exact integers, rounded once; slopes are exact-int
    ratios — IEEE-identical in both engines — and the selected median
    rounds only at output."""
    from is3107datapipelineproject_spark.operators.ranking import distributed_rank

    o = _t(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.date_trunc("day", "o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("d")
        .agg(F.sum("c").cast("long").alias("cents"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("cents").alias("cb"))
    p = a.join(F.broadcast(b), F.col("da") < F.col("db"))
    # greatest(.., 1): ANSI guard only — Catalyst pushes an
    # IsNotNull(bucket_expr) predicate containing this division into the
    # pair join, where it evaluates on da == db pairs (datediff = 0)
    # BEFORE the da < db condition drops them; every surviving pair has
    # datediff >= 1, so the guard never changes a kept value.
    # localCheckpoint: (1) the slope frame is BOUNDED (days²/2 rows
    # forever), (2) distributed_rank consumes it 3× (quantile probe +
    # ranked frame + bucket totals), and (3) without the cut Catalyst
    # fuses the rank's bucket-assignment expression into the pair
    # join's pushed IsNotNull predicate — a 63-cut bucket evaluation
    # per candidate PAIR (the checkpoint blocks that per-pair
    # re-evaluation). The
    # repartition matters too: AQE coalesces the tiny day aggregate to
    # ONE partition, so without it every downstream map (the bucket
    # fold over 2.9M pair rows) runs single-threaded (21 s -> ~4 s).
    sl = (
        p.select(
            "da",
            "db",
            (
                (F.col("cb") - F.col("ca")).cast("double")
                / F.greatest(F.datediff(F.col("db"), F.col("da")), F.lit(1))
            ).alias("s"),
        )
        .repartition(32)
        .localCheckpoint(eager=False)
    )
    # S and m derive from the CHECKPOINTED slope frame, not from p —
    # `p.agg(...)` would re-execute the whole day-pair broadcast NLJ a
    # second time. signum(s) == signum(cb - ca) exactly (every kept
    # pair has datediff >= 1 > 0 and s = (cb-ca)/datediff in float64,
    # which preserves sign and zero), so s_stat and the pair count are
    # value-identical read off sl.
    agg = sl.agg(
        F.sum(F.signum(F.col("s"))).cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = distributed_rank(sl, "s", ["da", "db"], rank_col="rn", count_col="cnt_all")
    k = agg.select(F.floor((F.col("m") + 1) / 2).cast("long").alias("k"))
    med = r.join(F.broadcast(k), F.col("rn") == F.col("k")).select(
        F.col("s").alias("med_s")
    )
    z = F.round(
        (F.col("s_stat").cast("double") - F.signum(F.col("s_stat").cast("double")))
        / F.sqrt(
            F.col("n") * (F.col("n") - F.lit(1.0)) * (2 * F.col("n") + 5) / F.lit(18.0)
        ),
        4,
    )
    return (
        agg.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("n").alias("n_days"),
            F.col("m").alias("n_pairs"),
            "s_stat",
            z.alias("z_stat"),
            F.round(F.col("med_s") / 100.0, 4).alias("sen_slope"),
        )
    )


@register(
    "group_exact_percentiles",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS pr, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
),
r AS (
  SELECT pr, v,
         row_number() OVER (PARTITION BY pr ORDER BY v, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY pr) AS n
  FROM s
)
SELECT pr AS o_orderpriority,
       CAST(max(n) AS BIGINT) AS n_orders,
       round(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) / 100.0, 4) AS p50,
       round(max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN v END) / 100.0, 4) AS p90
FROM r GROUP BY 1
""",
    tags=("warehouse", "stats"),
)
def q_group_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group P50/P90 of order revenue (discrete order
    statistics: the value at rank ceil(q·n) within each priority
    group) computed scale-safely: groups here are CORPUS-SIZED (5
    priorities × n/5 orders each), exactly the case where Spark's
    built-in exact `percentile` aggregate — which buffers every value
    of a group inside one aggregation buffer (see agg_percentiles, the
    small-group tool) — becomes a single-executor memory bomb at
    100 TB. The grouped distributed_rank keeps every task's sort at
    ~n/64 rows regardless of group size; percentile extraction is then
    one groupBy over rank-flagged rows. Cents stay BIGINT until the
    one rounded division per statistic."""
    from is3107datapipelineproject_spark.operators.ranking import distributed_rank

    s = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    r = distributed_rank(
        s, "v", ["o_orderkey"], group_cols=["pr"], rank_col="rn", count_col="n"
    )
    pick = lambda q: F.max(
        F.when(F.col("rn") == F.ceil(q * F.col("n")).cast("long"), F.col("v"))
    )
    return r.groupBy(F.col("pr").alias("o_orderpriority")).agg(
        F.max("n").cast("long").alias("n_orders"),
        F.round(pick(0.5) / 100.0, 4).alias("p50"),
        F.round(pick(0.9) / 100.0, 4).alias("p90"),
    )


@register(
    "stream_static_enrich",
    oracle="""
SELECT date_trunc('day', ts) AS window_start, n_name,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE e.event_type = 'purchase'
GROUP BY 1, 2
""",
    tags=("events", "streaming", "window"),
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension-enrichment rollup
    (streaming/windows.py::nation_window_revenue): daily purchase
    revenue per nation, the SAME transformation serving batch (here, so
    DuckDB can oracle it) and a file stream
    (tests/test_layout_and_streaming.py asserts stream(availableNow) ==
    this). The static customer→nation dim broadcasts — the streaming
    fact never shuffles."""
    from is3107datapipelineproject_spark.streaming.windows import (
        nation_window_revenue,
    )

    return nation_window_revenue(
        _t(spark, sf_dir, "events"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


def _sql_frac_w(salt: str, col_expr: str) -> str:
    # oracle twin of operators/sampling.py::hash_unit
    return (
        f"(CAST('0x' || substr(md5('{salt}|' || {col_expr}), 1, 7) AS BIGINT)"
        " / 268435456.0)"
    )


@register(
    "markov_next_event_accuracy",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
labeled AS (
  SELECT event_type AS f, next_type AS t,
         {_sql_frac_w("markov", "CAST(user_id AS VARCHAR)")} < 0.2 AS is_test
  FROM seq WHERE next_type IS NOT NULL
),
tr AS (SELECT f, t, count(*) AS n FROM labeled WHERE NOT is_test GROUP BY 1, 2),
model AS (
  SELECT f, t AS predicted
  FROM (SELECT f, t, row_number() OVER (PARTITION BY f ORDER BY n DESC, t) AS rk FROM tr)
  WHERE rk = 1
),
ev AS (
  SELECT l.f, m.predicted, CASE WHEN l.t = m.predicted THEN 1 ELSE 0 END AS ok
  FROM labeled l JOIN model m ON l.f = m.f
  WHERE l.is_test
),
per AS (
  SELECT f AS from_type, predicted,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(ok) AS BIGINT) AS n_correct,
         round(CAST(sum(ok) AS DOUBLE) / count(*), 4) AS accuracy
  FROM ev GROUP BY 1, 2
)
SELECT * FROM per
UNION ALL
SELECT 'ALL' AS from_type, '*' AS predicted,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(ok) AS BIGINT) AS n_correct,
       round(CAST(sum(ok) AS DOUBLE) / count(*), 4) AS accuracy
FROM ev
""",
    tags=("events", "sequence", "stats", "diagnostics"),
)
def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the first-order Markov journey model: fit
    argmax-next-event per from-state on the TRAIN users, score accuracy
    on the 20% hash-held-out TEST users — the validation step that
    decides whether session_transition_matrix's model is worth wiring
    into a product, with the user-level split preventing sequence
    leakage between fit and eval (a transition-level split would put a
    user's own behaviour on both sides). Everything after the one
    user-partitioned lead() window is vocabulary-sized: the model is
    #event-types rows (argmax tiebroken alphabetically so both engines
    pick the same mode), the eval join is model-keyed, and the report
    is #types+1 rows. The split is the engine-wide md5 content-hash
    convention — stable under corpus growth and re-partitioning."""
    from is3107datapipelineproject_spark.operators.sampling import hash_unit

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", F.col("event_type").alias("f"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    labeled = seq.select(
        "f", "t", (hash_unit("user_id", "markov") < 0.2).alias("is_test")
    )
    tr = (
        labeled.filter(~F.col("is_test"))
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mw = Window.partitionBy("f").orderBy(F.col("n").desc(), "t")
    model = (
        tr.select("f", F.col("t").alias("predicted"), F.row_number().over(mw).alias("rk"))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    ev = (
        labeled.filter(F.col("is_test"))
        .join(F.broadcast(model), "f")
        .select(
            "f",
            "predicted",
            F.when(F.col("t") == F.col("predicted"), 1).otherwise(0).alias("ok"),
        )
    )
    per = ev.groupBy(F.col("f").alias("from_type"), "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("ok").cast("long").alias("n_correct"),
        F.round(F.sum("ok").cast("double") / F.count(F.lit(1)), 4).alias("accuracy"),
    )
    allr = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("ok").cast("long").alias("n_correct"),
        F.round(F.sum("ok").cast("double") / F.count(F.lit(1)), 4).alias("accuracy"),
    ).select(
        F.lit("ALL").alias("from_type"), F.lit("*").alias("predicted"),
        "n_test", "n_correct", "accuracy",
    )
    return per.unionByName(allr)


def _cms_join_oracle() -> str:
    from is3107datapipelineproject_spark.operators.sketches import CMS_D, CMS_W

    def sketch(src_cte: str, j: int) -> str:
        return f"""SELECT {j} AS row,
       CAST('0x' || substr(md5('cms{j}|' || k), 1, 7) AS BIGINT) % {CMS_W} AS bucket,
       CAST(sum(c) AS HUGEINT) AS cnt
FROM {src_cte} GROUP BY 1, 2"""

    ska = "\nUNION ALL\n".join(sketch("oc", j) for j in range(CMS_D))
    skb = "\nUNION ALL\n".join(sketch("ec", j) for j in range(CMS_D))
    return f"""
WITH oc AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS c FROM orders GROUP BY 1),
ec AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c FROM events GROUP BY 1),
ska AS ({ska}),
skb AS ({skb}),
est AS (
  SELECT min(p) AS estimate FROM (
    SELECT a.row, sum(a.cnt * b.cnt) AS p
    FROM ska a JOIN skb b ON a.row = b.row AND a.bucket = b.bucket
    GROUP BY 1)
),
ex AS (SELECT CAST(sum(CAST(oc.c AS HUGEINT) * ec.c) AS HUGEINT) AS exact_rows
       FROM oc JOIN ec ON oc.k = ec.k)
SELECT CAST(ex.exact_rows AS BIGINT) AS exact_rows,
       CAST(est.estimate AS BIGINT) AS estimated_rows,
       round((CAST(est.estimate AS DOUBLE) - CAST(ex.exact_rows AS DOUBLE))
             / CAST(ex.exact_rows AS DOUBLE), 4) AS rel_overestimate
FROM ex, est
"""


@register(
    "join_cardinality_estimate",
    oracle=_cms_join_oracle(),
    tags=("warehouse", "sketch", "diagnostics"),
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-size estimation from MERGEABLE sketches (the
    AGMS/CMS inner-product estimator: |A ⋈ B| = Σ_k c_A(k)·c_B(k) ≥
    estimated by min over hash rows of the sketch dot product, one-sided
    overestimate) next to the exact answer — the planner-style check a
    pipeline runs BEFORE launching a many-to-many join that might
    explode, here orders × events on customer. At 100 TB the point is
    that each side's CMS is a constant d×w=4×2048-counter table built
    with one partial-agg pass and STORED with the table like any other
    statistic: estimating every candidate join in a workload costs d×w
    multiplications per pair, no data is rescanned, and sketches of
    corpus slices merge losslessly (cms_merge). Exact side is one
    count-join; counts multiply in DECIMAL(38,0) (HUGEINT oracle-side)."""
    from is3107datapipelineproject_spark.operators.sketches import cms_build

    oc = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ec = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ska = cms_build(oc, "k", "c")
    skb = cms_build(ec, "k", "c")
    dec = lambda c: c.cast("decimal(38,0)")
    est = (
        ska.join(skb.withColumnRenamed("bucket_cnt", "cnt_b"), ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(dec(F.col("bucket_cnt")) * F.col("cnt_b")).alias("p"))
        .agg(F.min("p").alias("estimate"))
    )
    ex = oc.join(ec.withColumnRenamed("c", "cb"), "k").agg(
        F.sum(dec(F.col("c")) * F.col("cb")).alias("exact_rows")
    )
    return ex.crossJoin(F.broadcast(est)).select(
        F.col("exact_rows").cast("long").alias("exact_rows"),
        F.col("estimate").cast("long").alias("estimated_rows"),
        F.round(
            (F.col("estimate").cast("double") - F.col("exact_rows").cast("double"))
            / F.col("exact_rows").cast("double"),
            4,
        ).alias("rel_overestimate"),
    )


@register(
    "conformal_price_interval",
    oracle=f"""
WITH li AS (
  SELECT CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR) AS rk,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
split AS (
  SELECT rk, x, y, {_sql_frac_w("conf", "rk")} AS u FROM li
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy
  FROM split WHERE u < 0.5
),
coefs AS (
  SELECT round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS b,
         round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE), 6) AS a,
         n AS n_train
  FROM m
),
res AS (
  SELECT s.rk, s.u, round(abs(s.y - c.a - c.b * s.x), 4) AS r
  FROM split s, coefs c WHERE s.u >= 0.5
),
calib AS (SELECT rk, r FROM res WHERE u < 0.75),
ranked AS (
  SELECT r, row_number() OVER (ORDER BY r, rk) AS rn, count(*) OVER () AS nc
  FROM calib
),
qh AS (
  SELECT r AS qhat, nc AS n_calib FROM ranked
  WHERE rn = CAST(ceil((nc + 1) * 0.9) AS BIGINT)
),
test AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         round(CAST(sum(CASE WHEN res.r <= qh.qhat THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS coverage
  FROM res, qh WHERE res.u >= 0.75
)
SELECT c.n_train, CAST(qh.n_calib AS BIGINT) AS n_calib, t.n_test,
       round(qh.qhat / 100.0, 4) AS qhat,
       t.coverage
FROM coefs c, qh, test t
""",
    tags=("warehouse", "stats", "diagnostics"),
)
def q_conformal_price_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the price~quantity
    regression, with its honesty check: fit closed-form OLS on the 50%
    hash-train split, take q̂ = the ceil((n+1)·0.9)-th order statistic
    of absolute residuals on the 25% calibration split (the
    distribution-free 90% guarantee of split conformal — Vovk; Lei et
    al. 2018), then MEASURE empirical coverage on the held-out 25% —
    the number that should land ≈0.90 regardless of how wrong the
    linear model is. Scale shape: the fit is a 5-moment DECIMAL
    map-side aggregate; residuals are one scan against broadcast
    coefficients; the exact residual quantile goes through the
    two-level distributed_rank (no single-task sort); coverage is one
    more broadcast-scalar comparison scan. Determinism: coefficients
    round to 6 BEFORE residuals, residuals round to 4 before ranking,
    splits are the md5 content-hash convention."""
    from is3107datapipelineproject_spark.operators.ranking import distributed_rank
    from is3107datapipelineproject_spark.operators.sampling import hash_unit

    li = _t(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("rk"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    split = li.select("rk", "x", "y", hash_unit("rk", "conf").alias("u"))
    dec = lambda c: c.cast("decimal(38,0)")
    m = split.filter(F.col("u") < 0.5).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec(F.col("x")) * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope_raw = (
        nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    coefs = m.select(
        F.round(slope_raw, 6).alias("b"),
        F.round(
            (F.col("sy").cast("double") - slope_raw * F.col("sx").cast("double")) / nd, 6
        ).alias("a"),
        F.col("n").alias("n_train"),
    )
    res = (
        split.filter(F.col("u") >= 0.5)
        .crossJoin(F.broadcast(coefs))
        .select(
            "rk",
            "u",
            F.round(F.abs(F.col("y") - F.col("a") - F.col("b") * F.col("x")), 4).alias("r"),
        )
        .localCheckpoint(eager=False)
    )
    calib = res.filter(F.col("u") < 0.75).select("rk", "r")
    ranked = distributed_rank(calib, "r", ["rk"], rank_col="rn", count_col="nc")
    qh = ranked.filter(
        F.col("rn") == F.ceil((F.col("nc") + 1) * 0.9).cast("long")
    ).select(F.col("r").alias("qhat"), F.col("nc").cast("long").alias("n_calib"))
    test = (
        res.filter(F.col("u") >= 0.75)
        .crossJoin(F.broadcast(qh))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(
                F.sum(F.when(F.col("r") <= F.col("qhat"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("coverage"),
        )
    )
    return (
        coefs.select("n_train")
        .crossJoin(F.broadcast(qh))
        .crossJoin(F.broadcast(test))
        .select(
            "n_train",
            "n_calib",
            "n_test",
            F.round(F.col("qhat") / 100.0, 4).alias("qhat"),
            "coverage",
        )
    )


@register(
    "revenue_moments",
    oracle="""
WITH s AS (
  SELECT CAST(round(o_totalprice) AS BIGINT) AS x,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(cents AS HUGEINT)) AS sc,
         sum(CAST(x AS HUGEINT)) AS s1,
         sum(CAST(x AS HUGEINT) * x) AS s2,
         sum(CAST(x AS HUGEINT) * x * x) AS s3,
         sum(CAST(x AS HUGEINT) * x * x * x) AS s4
  FROM s
),
d AS (
  SELECT n,
         round(CAST(sc AS DOUBLE) / n / 100.0, 4) AS mean_revenue,
         CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
         CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
  FROM m
)
SELECT n AS n_orders, mean_revenue,
       round(sqrt((nd * d2 - d1 * d1) / (nd * nd)), 4) AS stddev_usd,
       round(sqrt(nd) * (nd * nd * d3 - 3.0 * nd * d2 * d1 + 2.0 * d1 * d1 * d1)
             / pow(nd * d2 - d1 * d1, 1.5), 4) AS skewness,
       round(nd * (nd * nd * nd * d4 - 4.0 * nd * nd * d3 * d1 + 6.0 * nd * d2 * d1 * d1 - 3.0 * d1 * d1 * d1 * d1)
             / pow(nd * d2 - d1 * d1, 2.0) - 3.0, 4) AS kurtosis_excess
FROM d
""",
    tags=("warehouse", "stats"),
)
def q_revenue_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment shape statistics of order revenue — stddev,
    skewness, excess kurtosis — from ONE map-side-combined scan of
    exact integer power sums (Σx, Σx², Σx³, Σx⁴ over whole-dollar
    BIGINTs in DECIMAL(38,0)/HUGEINT; dollars, not cents, keep Σx⁴
    under the 128-bit ceiling at 100 TB row counts). Central moments
    assemble from the raw sums in one pinned-order double expression
    per statistic (the n²S₃ − 3nS₂S₁ + 2S₁³ expansions), rounded once
    — no second mean-subtraction pass over the data, no float
    accumulates distributively, so the long-tail diagnosis (kurtosis
    says whether mega-orders dominate variance) costs the same as a
    count(*)."""
    s = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice")).cast("long").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    m = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("cents"))).alias("sc"),
        F.sum(dec(F.col("x"))).alias("s1"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("s2"),
        F.sum(dec(F.col("x")) * F.col("x") * F.col("x")).alias("s3"),
        F.sum(dec(F.col("x")) * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    nd = F.col("n").cast("double")
    d1, d2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    d3, d4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    m2 = nd * d2 - d1 * d1
    return m.select(
        F.col("n").alias("n_orders"),
        F.round(F.col("sc").cast("double") / F.col("n") / 100.0, 4).alias("mean_revenue"),
        F.round(F.sqrt(m2 / (nd * nd)), 4).alias("stddev_usd"),
        F.round(
            F.sqrt(nd) * (nd * nd * d3 - 3.0 * nd * d2 * d1 + 2.0 * d1 * d1 * d1)
            / F.pow(m2, 1.5),
            4,
        ).alias("skewness"),
        F.round(
            nd
            * (nd * nd * nd * d4 - 4.0 * nd * nd * d3 * d1 + 6.0 * nd * d2 * d1 * d1 - 3.0 * d1 * d1 * d1 * d1)
            / F.pow(m2, 2.0)
            - 3.0,
            4,
        ).alias("kurtosis_excess"),
    )


@register(
    "deletion_cascade_audit",
    oracle=f"""
WITH del AS (
  SELECT c_custkey FROM customer
  WHERE {_sql_frac_w("gdpr", "CAST(c_custkey AS VARCHAR)")} < 0.05
),
oa AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del))
SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS affected_rows FROM del
UNION ALL
SELECT 'orders', CAST(count(*) AS BIGINT) FROM oa
UNION ALL
SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM oa)
UNION ALL
SELECT 'events', CAST(count(*) AS BIGINT) FROM events
WHERE user_id IN (SELECT c_custkey FROM del)
""",
    tags=("warehouse", "dq", "governance"),
)
def q_deletion_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit: given a deletion set of customers
    (here a 5% hash sample standing in for the request list), count the
    rows each table loses when the deletion CASCADES along the FK
    chain — customer → their orders → those orders' lineitems, plus the
    event stream keyed by user — the report a data-governance pipeline
    produces BEFORE executing a purge (and re-runs after, expecting
    zeros). Plan shape: a chain of LEFT SEMI joins, each keyed on the
    previous stage's key set — the deletion set is NOT assumed
    broadcastable (at 100 TB a real request batch can be millions of
    subjects; Catalyst broadcasts when stats allow, shuffles when not),
    and each stage collapses map-side to one count row. The actual
    purge would reuse plans/layout.py::merge_apply's delete path per
    table."""
    from is3107datapipelineproject_spark.operators.sampling import hash_unit

    cust = _t(spark, sf_dir, "customer")
    delset = cust.filter(hash_unit("c_custkey", "gdpr") < 0.05).select("c_custkey")
    orders = _t(spark, sf_dir, "orders")
    oa = orders.join(
        delset, orders["o_custkey"] == delset["c_custkey"], "left_semi"
    ).select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem")
    la = li.join(oa, li["l_orderkey"] == oa["o_orderkey"], "left_semi")
    ev = _t(spark, sf_dir, "events")
    ea = ev.join(delset, ev["user_id"] == delset["c_custkey"], "left_semi")

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).cast("long").alias("affected_rows")).select(
            F.lit(name).alias("tbl"), "affected_rows"
        )

    return (
        cnt(delset, "customer")
        .unionByName(cnt(oa, "orders"))
        .unionByName(cnt(la, "lineitem"))
        .unionByName(cnt(ea, "events"))
    )


@register(
    "funnel_dropoff_significance",
    oracle=f"""
WITH v AS (
  SELECT user_id,
         CASE WHEN {_sql_frac_w("seg", "CAST(user_id AS VARCHAR)")} < 0.5 THEN 'A' ELSE 'B' END AS seg,
         min(ts) AS view_ts
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
c AS (SELECT v.user_id, v.seg, min(e.ts) AS click_ts
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click'
       AND e.ts > v.view_ts AND e.ts <= v.view_ts + INTERVAL 7 DAY
      GROUP BY 1, 2),
p AS (SELECT c.user_id, c.seg, min(e.ts) AS purchase_ts
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.click_ts AND e.ts <= c.click_ts + INTERVAL 7 DAY
      GROUP BY 1, 2),
sv AS (SELECT seg, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY 1),
sc AS (SELECT seg, CAST(count(*) AS BIGINT) AS nc FROM c GROUP BY 1),
sp AS (SELECT seg, CAST(count(*) AS BIGINT) AS np FROM p GROUP BY 1),
agg AS (
  SELECT sv.seg, sv.nv, COALESCE(sc.nc, 0) AS nc, COALESCE(sp.np, 0) AS np
  FROM sv LEFT JOIN sc ON sv.seg = sc.seg LEFT JOIN sp ON sv.seg = sp.seg
),
w AS (
  SELECT a.nv AS nva, a.nc AS nca, a.np AS npa, b.nv AS nvb, b.nc AS ncb, b.np AS npb
  FROM (SELECT * FROM agg WHERE seg = 'A') a, (SELECT * FROM agg WHERE seg = 'B') b
),
rows_ AS (
  SELECT 'view->click' AS transition, nva AS n_a, nca AS x_a, nvb AS n_b, ncb AS x_b FROM w
  UNION ALL
  SELECT 'click->purchase', nca, npa, ncb, npb FROM w
)
SELECT transition, n_a, x_a, n_b, x_b,
       round(CAST(x_a AS DOUBLE) / n_a, 4) AS rate_a,
       round(CAST(x_b AS DOUBLE) / n_b, 4) AS rate_b,
       CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL
            ELSE round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4) END AS z_stat
FROM rows_
""",
    tags=("events", "funnel", "stats"),
)
def q_funnel_dropoff_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per funnel transition between two user
    segments (the md5 hash split standing in for a treatment
    assignment): is segment A's view→click or click→purchase conversion
    rate SIGNIFICANTLY different from B's, or within pooled-variance
    noise — the decision layer on top of events_funnel that turns raw
    conversion counts into ship/no-ship calls. The stages are the same
    first-event interval joins as events_funnel but on a 7-DAY
    consideration window (this corpus's users convert over days — the
    30-minute urgency funnel converts nobody, which events_funnel
    reports honestly as depth 1); per-segment counts LEFT-join so a
    zero-conversion segment still yields a row, and the degenerate
    pooled variance (all or none converted) returns NULL rather than
    dividing by zero under ANSI. Both z statistics assemble from six
    exact BIGINTs in one pinned-order float expression, rounded once."""
    from is3107datapipelineproject_spark.operators.sampling import hash_unit

    ev = _t(spark, sf_dir, "events")
    seg = F.when(hash_unit("user_id", "seg") < 0.5, "A").otherwise("B")
    week = F.expr("INTERVAL 7 DAY")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", seg.alias("seg"))
        .agg(F.min("ts").alias("view_ts"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    c = (
        v.join(
            clicks,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cts") > F.col("view_ts"))
            & (F.col("cts") <= F.col("view_ts") + week),
        )
        .groupBy("user_id", "seg")
        .agg(F.min("cts").alias("click_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    p = (
        c.join(
            purchases,
            (F.col("pu") == F.col("user_id"))
            & (F.col("pts") > F.col("click_ts"))
            & (F.col("pts") <= F.col("click_ts") + week),
        )
        .groupBy("user_id", "seg")
        .agg(F.min("pts").alias("purchase_ts"))
    )

    def seg_count(df, name):
        return df.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias(name))

    agg = (
        seg_count(v, "nv")
        .join(seg_count(c, "nc"), "seg", "left")
        .join(seg_count(p, "np"), "seg", "left")
        .select(
            "seg",
            "nv",
            F.coalesce(F.col("nc"), F.lit(0)).cast("long").alias("nc"),
            F.coalesce(F.col("np"), F.lit(0)).cast("long").alias("np"),
        )
    )
    a = agg.filter(F.col("seg") == "A").select(
        F.col("nv").alias("nva"), F.col("nc").alias("nca"), F.col("np").alias("npa")
    )
    b = agg.filter(F.col("seg") == "B").select(
        F.col("nv").alias("nvb"), F.col("nc").alias("ncb"), F.col("np").alias("npb")
    )
    w = a.crossJoin(F.broadcast(b))
    r1 = w.select(
        F.lit("view->click").alias("transition"),
        F.col("nva").alias("n_a"), F.col("nca").alias("x_a"),
        F.col("nvb").alias("n_b"), F.col("ncb").alias("x_b"),
    )
    r2 = w.select(
        F.lit("click->purchase").alias("transition"),
        F.col("nca").alias("n_a"), F.col("npa").alias("x_a"),
        F.col("ncb").alias("n_b"), F.col("npb").alias("x_b"),
    )
    rows = r1.unionByName(r2)
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = F.when(
        ((F.col("x_a") + F.col("x_b")) == 0)
        | ((F.col("x_a") + F.col("x_b")) == (F.col("n_a") + F.col("n_b"))),
        F.lit(None).cast("double"),
    ).otherwise(
        F.round(
            (F.col("x_a").cast("double") / F.col("n_a") - F.col("x_b").cast("double") / F.col("n_b"))
            / F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
            4,
        )
    )
    return rows.select(
        "transition", "n_a", "x_a", "n_b", "x_b",
        F.round(F.col("x_a").cast("double") / F.col("n_a"), 4).alias("rate_a"),
        F.round(F.col("x_b").cast("double") / F.col("n_b"), 4).alias("rate_b"),
        z.alias("z_stat"),
    )


@register(
    "order_total_reconciliation",
    oracle="""
WITH l AS (
  SELECT l_orderkey,
         sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))
             * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS recomputed_scaled
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS HUGEINT) * 10000 AS stated_scaled,
         l.recomputed_scaled
  FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN recomputed_scaled IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_lineitems,
       CAST(sum(CASE WHEN recomputed_scaled IS NOT NULL
                      AND abs(stated_scaled - recomputed_scaled) > 10000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       round(CAST(max(CASE WHEN recomputed_scaled IS NOT NULL
                           THEN abs(stated_scaled - recomputed_scaled) END) AS DOUBLE)
             / 1000000.0, 4) AS max_abs_diff_usd,
       round(CAST(sum(CASE WHEN recomputed_scaled IS NOT NULL THEN recomputed_scaled END) AS DOUBLE)
             / CAST(sum(CASE WHEN recomputed_scaled IS NOT NULL THEN stated_scaled END) AS DOUBLE), 4)
         AS total_ratio
FROM j
""",
    tags=("warehouse", "dq"),
)
def q_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact reconciliation: recompute each order's total from
    its lineitems (Σ extendedprice·(1−discount)·(1+tax)) and report how
    far the stated o_totalprice drifts — the financial-close control
    every warehouse runs between a header table and its detail table
    (on THIS synthetic corpus it honestly reports that the generator
    does not enforce the TPC-H price identity: every order mismatches,
    257-per-15k have no lineitems at all — exactly what the control
    exists to surface). Arithmetic is integer-EXACT end to end: 2-dp
    discount/tax become ×100 integers, each line value is
    cents·(100−d)·(100+t) in DECIMAL(38,0)/HUGEINT, the stated total
    scales by 10⁴ to the same units, and mismatch means >1 cent of
    scaled difference — no float ever sums, so both engines agree
    bit-for-bit. Plan: ONE fact-fact equi-join (lineitem pre-aggregated
    map-side to per-order partials before the shuffle) collapsing to a
    single report row."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,0)")
    l = li.groupBy("l_orderkey").agg(
        F.sum(
            dec(F.round(F.col("l_extendedprice") * 100).cast("long"))
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            * (100 + F.round(F.col("l_tax") * 100).cast("long"))
        ).alias("recomputed_scaled")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (dec(F.round(F.col("o_totalprice") * 100).cast("long")) * 10000).alias(
            "stated_scaled"
        ),
    )
    j = o.join(l, o["o_orderkey"] == l["l_orderkey"], "left")
    has = F.col("recomputed_scaled").isNotNull()
    diff = F.abs(F.col("stated_scaled") - F.col("recomputed_scaled"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(has, 1).otherwise(0)).cast("long").alias("n_with_lineitems"),
        F.sum(F.when(has & (diff > 10000), 1).otherwise(0))
        .cast("long")
        .alias("n_mismatch"),
        F.round(
            F.max(F.when(has, diff)).cast("double") / 1000000.0, 4
        ).alias("max_abs_diff_usd"),
        F.round(
            F.sum(F.when(has, F.col("recomputed_scaled"))).cast("double")
            / F.sum(F.when(has, F.col("stated_scaled"))).cast("double"),
            4,
        ).alias("total_ratio"),
    )


@register(
    "cohort_ltv_curve",
    oracle="""
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
f AS (SELECT o_custkey, min(ym) AS c0 FROM o GROUP BY 1),
sz AS (SELECT c0, CAST(count(*) AS BIGINT) AS n_customers FROM f GROUP BY 1),
a AS (
  SELECT f.c0, CAST(o.ym - f.c0 AS INT) AS age_month,
         CAST(sum(CAST(o.cents AS HUGEINT)) AS HUGEINT) AS rev
  FROM o JOIN f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
),
c AS (
  SELECT c0, age_month,
         sum(rev) OVER (PARTITION BY c0 ORDER BY age_month
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
  FROM a
)
SELECT CAST((c.c0 // 12) * 100 + (c.c0 % 12) + 1 AS INT) AS cohort_ym,
       c.age_month, sz.n_customers,
       CAST((c.cum_rev * 10000 + sz.n_customers * 50) // (sz.n_customers * 100) AS DOUBLE)
         / 10000.0 AS ltv_per_customer
FROM c JOIN sz ON c.c0 = sz.c0
""",
    tags=("warehouse", "window", "timeseries"),
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by FIRST-order
    month, cumulative revenue per customer by months-since-first-order
    — the revenue sibling of cohort_retention (which counts activity;
    this accumulates value), the curve a growth team reads to see
    whether newer cohorts monetize faster. Scale shape: the fact
    collapses to (cohort, age) cells — calendar² bounded (≤84×84 cells
    per 7-year span) no matter the corpus — after one first-order
    aggregate and one fact-to-cohort equi-join; the cumulative window
    is PARTITIONED by cohort over ≤#months rows. Month arithmetic is
    pure integers (y·12+m), revenue is exact cents, one rounded
    division per output cell."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    f = o.groupBy("o_custkey").agg(F.min("ym").alias("c0"))
    sz = f.groupBy("c0").agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    a = (
        o.join(f, "o_custkey")
        .groupBy("c0", (F.col("ym") - F.col("c0")).cast("int").alias("age_month"))
        .agg(F.sum(F.col("cents").cast("decimal(38,0)")).alias("rev"))
    )
    w = (
        Window.partitionBy("c0")
        .orderBy("age_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = a.withColumn("cum_rev", F.sum("rev").over(w))
    return c.join(F.broadcast(sz), "c0").select(
        (F.floor(F.col("c0") / 12) * 100 + F.col("c0") % 12 + 1)
        .cast("int")
        .alias("cohort_ym"),
        "age_month",
        "n_customers",
        # integer HALF-UP rounding to 4 dp: cum_cents/(n·100) has an
        # EXACT finite decimal representation whenever n is 2^a·5^b, so
        # float round(_, 4) hits genuine ties and the engines' tie rules
        # differ — (cum·10⁴ + n·50) div (n·100) decides the tie in
        # integer arithmetic identically everywhere.
        (
            F.floor(
                (F.col("cum_rev") * 10000 + F.col("n_customers") * 50)
                / (F.col("n_customers") * 100)
            ).cast("double")
            / 10000.0
        ).alias("ltv_per_customer"),
    )


@register(
    "rolling_active_users",
    oracle="""
WITH ud AS (
  SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday, user_id
  FROM events
),
x AS (
  SELECT eday + o AS day, user_id
  FROM ud, (SELECT unnest(generate_series(0, 6)) AS o) offs
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users_7d
FROM x GROUP BY 1
""",
    tags=("events", "timeseries", "window"),
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the WAU curve) —
    the sliding-window COUNT DISTINCT every product pipeline runs and
    the op a frame window CANNOT express (count distinct isn't
    associative over frames). Restated scale-first: dedup to (user,
    day) FIRST (one hash aggregate — collapses the fact table to at
    most |users|×|days| rows), THEN explode each survivor into the 7
    window-end days it contributes to, then a two-phase distinct count
    keyed (day, user). The 7× row expansion happens on the DEDUPED
    frame, never the raw events — at 100 TB the expansion input is
    bounded by the key space, not event volume. Day = epoch-day BIGINT
    (the :1442 trailing-window convention); trailing days past the
    corpus max stay in the result (both engines emit the identical
    spine). The cumulative sibling is running_distinct_users; the
    per-day z-score sibling is daily_anomaly_zscore."""
    ud = (
        _t(spark, sf_dir, "events")
        .select(F.unix_date(F.to_date("ts")).cast("long").alias("eday"), "user_id")
        .distinct()
    )
    x = ud.select(
        "eday", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o")
    ).select((F.col("eday") + F.col("o")).alias("day"), "user_id")
    return x.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("active_users_7d")
    )


@register(
    "robust_zscore_days",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
r AS (
  SELECT d, cents, row_number() OVER (ORDER BY cents, d) AS rk,
         count(*) OVER () AS n
  FROM daily
),
med AS (SELECT cents AS m FROM r WHERE rk = (n + 1) // 2),
dev AS (SELECT daily.d, daily.cents, abs(daily.cents - med.m) AS ad, med.m FROM daily, med),
r2 AS (SELECT ad, row_number() OVER (ORDER BY ad) AS rk, count(*) OVER () AS n FROM dev),
mad AS (SELECT ad AS s FROM r2 WHERE rk = (n + 1) // 2)
SELECT dev.d, dev.cents,
       round(0.6745 * CAST(dev.cents - dev.m AS DOUBLE)
             / CAST(greatest(mad.s, 1) AS DOUBLE), 4) AS rz,
       abs(round(0.6745 * CAST(dev.cents - dev.m AS DOUBLE)
             / CAST(greatest(mad.s, 1) AS DOUBLE), 4)) > 3.5 AS is_outlier
FROM dev, mad
""",
    tags=("warehouse", "timeseries", "diagnostics"),
)
def q_robust_zscore_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust z-score over daily revenue (Iglewicz–Hoaglin
    modified z, |0.6745·(x−med)/MAD| > 3.5) — the outlier detector whose
    center and spread the outliers themselves cannot corrupt, unlike
    daily_anomaly_zscore's mean/σ (one fat-finger day inflates σ and
    masks itself). Exactness: daily revenue as integer cents; median
    and MAD are LOWER medians picked by integer rank ((n+1) div 2,
    ordered (cents, d) / (ad)) — no cross-engine float averaging of
    middle pairs; the z expression converts to double once, identically
    ordered both sides, and rounds to 4 before the threshold compare.
    Plan: the fact collapses map-side to the #days calendar frame; both
    rank windows run over that bounded spine (the cusum_changepoint
    boundedness argument), and the two scalar pick-offs broadcast back."""
    daily = (
        _t(spark, sf_dir, "orders")
        .select(
            F.date_trunc("day", "o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c1"),
        )
        .groupBy("d")
        .agg(F.sum("c1").cast("long").alias("cents"))
    )
    w = Window.orderBy("cents", "d")
    wn = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r = daily.select(
        "d", "cents",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r.filter(F.col("rk") == F.expr("(n + 1) DIV 2")).select(F.col("cents").alias("m"))
    dev = daily.crossJoin(F.broadcast(med)).select(
        "d", "cents", "m", F.abs(F.col("cents") - F.col("m")).alias("ad")
    )
    w2 = Window.orderBy("ad")
    r2 = dev.select(
        "ad",
        F.row_number().over(w2).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = r2.filter(F.col("rk") == F.expr("(n + 1) DIV 2")).select(F.col("ad").alias("s"))
    rz = F.round(
        F.lit(0.6745) * (F.col("cents") - F.col("m")).cast("double")
        / F.greatest(F.col("s"), F.lit(1)).cast("double"),
        4,
    )
    return dev.crossJoin(F.broadcast(mad)).select(
        "d", "cents", rz.alias("rz"), (F.abs(rz) > 3.5).alias("is_outlier")
    )


@register(
    "user_active_time",
    oracle="""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
  FROM events
),
sw AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM iv
)
SELECT user_id,
       CAST(sum(greatest(e - greatest(s, coalesce(pe, s)), 0)) AS BIGINT) AS active_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM sw GROUP BY user_id
""",
    tags=("events", "window", "timeseries"),
)
def q_user_active_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union length per user: each event opens a 30-minute
    activity interval; overlaps must count ONCE (naive sum over
    n events is 30·n minutes regardless of clustering — wrong the
    moment two events are close). The classic sweep, distributed: sort
    within each user partition, running max of interval ends
    (frame UNBOUNDED PRECEDING..1 PRECEDING), each row contributes
    greatest(0, e − greatest(s, prev_max_end)) — clipped to the
    uncovered part only. All integer microseconds (unix_micros /
    epoch_us), no float time math; ties (duplicate timestamps) are
    harmless to the cummax. Scale: one partitioned window, state =
    one cummax per user partition — the same per-key-linear shape as
    events_session_window, never an interval self-join."""
    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(1_800_000_000)).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sw = iv.withColumn("pe", F.max("e").over(w))
    contrib = F.greatest(
        F.col("e") - F.greatest(F.col("s"), F.coalesce(F.col("pe"), F.col("s"))),
        F.lit(0),
    )
    return sw.groupBy("user_id").agg(
        F.sum(contrib).cast("long").alias("active_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
