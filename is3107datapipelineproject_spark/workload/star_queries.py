"""Oracle-checked query workload over the driver's star-schema testdata.

Each SURVEY.md §2 operator (qname column) is instantiated on the
TPC-H-ish tables per the FIXTURES.md §A mapping — e.g. the DBLP
co-authorship pair-count becomes supplier co-occurrence per order, the
"k-th author" positional predicate becomes "supplier on the k-th line of
the order", researcher PIDs become supplier keys.

Determinism rules (so the driver's order-insensitive value hash is
stable): no arbitrary-row dropDuplicates, LIMIT only under a total
order, double aggregates only over integral-valued doubles (exact in fp,
any summation order) or via DECIMAL casts, and integer widths pinned
with explicit casts on BOTH the Spark and DuckDB side.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from is3107datapipelineproject_spark.functions import scalar as SC
from is3107datapipelineproject_spark.operators import relational as R
from is3107datapipelineproject_spark.operators.incremental import incremental_merge
from is3107datapipelineproject_spark.operators.pair_counts import supplier_pair_counts
from is3107datapipelineproject_spark.sources.tables import load_table
from is3107datapipelineproject_spark.workload.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: A4 pair-count (ref main_dag.py:265-290 — the 13-minute loop)
# ---------------------------------------------------------------------------

PAIR_COUNTS_CTE = """
bridge AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
pc AS (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         CAST(year(o.o_orderdate) AS INT) AS year,
         a.l_suppkey AS author1,
         b.l_suppkey AS author2
  FROM bridge a
  JOIN bridge b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  JOIN orders o ON o.o_orderkey = a.l_orderkey
  GROUP BY 2, 3, 4
)
"""


@register("pair_counts", oracle=f"WITH {PAIR_COUNTS_CTE} SELECT * FROM pc", tags=("agg", "join", "flagship"))
def q_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY A4: unordered co-occurrence pair counts per year via bridge
    self-join — replaces the reference's O(pairs × rows) loop
    (main_dag.py:265-290) with two bounded shuffles."""
    return supplier_pair_counts(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# S1: CSV scan — write a tiny CSV from the region dim, read it back typed
# ---------------------------------------------------------------------------

@register("scan_csv", oracle="SELECT r_regionkey, r_name FROM region", tags=("source",))
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S1/S2 (ref main_dag.py:18-19, 339-353): headered CSV scan
    with an explicit schema — no inference in the engine."""
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # Stable digest (not the salted builtin hash) + pid: deterministic per
    # input within a process, no cross-process overwrite-vs-read race.
    token = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"engine_scan_csv_{token}_{os.getpid()}")
    region.coalesce(1).write.mode("overwrite").option("header", True).csv(out_dir)
    schema = T.StructType(
        [T.StructField("r_regionkey", T.IntegerType()), T.StructField("r_name", T.StringType())]
    )
    return spark.read.csv(out_dir, header=True, schema=schema)


# ---------------------------------------------------------------------------
# S3: existence-checked scan with empty fallback (ref main_dag.py:64-69)
# ---------------------------------------------------------------------------

def scan_or_empty(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """SURVEY S3 (ref main_dag.py:64-69): read the cache if it exists,
    else an empty DataFrame with the declared schema — the cold-start
    branch of the incremental contract."""
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


@register("scan_or_empty", oracle="SELECT r_regionkey, r_name FROM region", tags=("source",))
def q_scan_or_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: the existing path yields the table; a nonexistent path yields
    an empty frame of the same schema — union proves both branches."""
    schema = T.StructType(
        [T.StructField("r_regionkey", T.LongType()), T.StructField("r_name", T.StringType())]
    )
    present = scan_or_empty(spark, os.path.join(sf_dir, "region.parquet"), schema)
    absent = scan_or_empty(spark, os.path.join(sf_dir, "no_such_cache.parquet"), schema)
    return present.select("r_regionkey", "r_name").unionByName(absent)


# ---------------------------------------------------------------------------
# P4/P6/P7: filters
# ---------------------------------------------------------------------------

@register(
    "filter_eq",
    oracle="""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'R'""",
    tags=("filter",),
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 (ref main_dag.py:144-145): equality predicate, pushed to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "filter_in",
    oracle="""
SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS year
FROM orders
WHERE year(o_orderdate) IN (1995, 1997, 1999)
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
""",
    tags=("filter",),
)
def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (docx §Proxy Q1/Q2 CQL IN-lists): conjunctive IN-list filter —
    the partition-pruning shape when (year, category) is the layout key."""
    o = _t(spark, sf_dir, "orders").withColumn("year", F.year("o_orderdate").cast("int"))
    return o.filter(
        F.col("year").isin(1995, 1997, 1999) & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_totalprice", "year")


@register(
    "q_point_lookup",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1998
""",
    tags=("filter",),
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (docx §Query 1/2): compound equality on the partition+clustering
    key — a single-partition read under the engine's (year, category)
    layout."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderpriority") == "1-URGENT")
        & (F.year("o_orderdate") == 1998)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


# Total order within an order-group: l_linenumber is NOT unique per order
# in the testdata, so ordinals/map keys use this full tiebreak chain —
# verified unique at every SF.
LINE_ORDER = ["l_linenumber", "l_suppkey", "l_partkey", "l_extendedprice"]
LINE_ORDER_SQL = "l_linenumber, l_suppkey, l_partkey, l_extendedprice"


@register(
    "filter_map_contains",
    oracle="SELECT DISTINCT l_orderkey FROM lineitem WHERE CAST(l_suppkey AS VARCHAR) = '68'",
    tags=("filter", "nested"),
)
def q_filter_map_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 (docx §Query 1 ``authors_pids CONTAINS pid``): build the
    reference's ordinal-keyed member map per group, filter on
    array_contains(map_values(…)) — EXACT element match, not the
    substring semantics of main_dag.py:280-281 (SURVEY §3.3 bug list)."""
    li = _t(spark, sf_dir, "lineitem")
    grouped = R.ordinal_keyed_map(li, "l_orderkey", LINE_ORDER, F.col("l_suppkey").cast("string"))
    return grouped.filter(F.array_contains(F.map_values("member_map"), "68")).select("l_orderkey")


# ---------------------------------------------------------------------------
# P9: positional "n-th author" predicates (docx §Proxy Q1/Q2)
# ---------------------------------------------------------------------------

def _nth_line_count(spark: SparkSession, sf_dir: str, n: int, suppkey: int, years: list[int]) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nth = R.nth_member(li, "l_orderkey", LINE_ORDER, "l_suppkey", n)
    hits = nth.filter(F.col("nth") == suppkey)
    year_dim = orders.select(
        F.col("o_orderkey").alias("l_orderkey"), F.year("o_orderdate").cast("int").alias("year")
    ).filter(F.col("year").isin(years))
    return hits.join(year_dim, "l_orderkey", "left_semi").agg(F.count(F.lit(1)).alias("cnt"))


def _nth_line_oracle(n: int, suppkey: int, years: list[int]) -> str:
    ys = ", ".join(str(y) for y in years)
    return f"""
WITH ranked AS (
  SELECT l_orderkey, l_suppkey,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY {LINE_ORDER_SQL}) AS rn
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS cnt
FROM ranked r
JOIN orders o ON o.o_orderkey = r.l_orderkey
WHERE r.rn = {n} AND r.l_suppkey = {suppkey} AND year(o.o_orderdate) IN ({ys})
"""


@register("q1_nth_author", oracle=_nth_line_oracle(3, 68, [1995, 1996, 1997, 1998, 1999, 2000]), tags=("workload",))
def q1_nth_author(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy Q1 (docx): count of groups where member 68 holds ordinal
    position 3, over a year IN-list — ordinal via array_sort of
    (order, member) structs (SURVEY W1), exact positional semantics."""
    return _nth_line_count(spark, sf_dir, 3, 68, [1995, 1996, 1997, 1998, 1999, 2000])


@register("q2_nth_author", oracle=_nth_line_oracle(2, 9, [1997, 1998, 1999, 2000, 2001]), tags=("workload",))
def q2_nth_author(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy Q2 (docx): member 9 at ordinal position 2, recent 5 years."""
    return _nth_line_count(spark, sf_dir, 2, 9, [1997, 1998, 1999, 2000, 2001])


# ---------------------------------------------------------------------------
# J1/J2/J3: anti / semi joins
# ---------------------------------------------------------------------------

@register(
    "antijoin_new",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
    tags=("join",),
)
def q_antijoin_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (ref main_dag.py:143-148): left-anti "not yet known" detection —
    customers with no 'P'-status order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return R.new_rows(
        c.select(F.col("c_custkey"), F.col("c_name")),
        o.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )


@register(
    "antijoin_deleted",
    oracle="""
SELECT p_partkey, p_name FROM part p
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
""",
    tags=("join",),
)
def q_antijoin_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (ref main_dag.py:251-252 intent): disappearance detection —
    known rows never re-seen in the latest snapshot."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return R.deleted_rows(
        p.select("p_partkey", "p_name"),
        li.select(F.col("l_partkey").alias("p_partkey")),
        "p_partkey",
    )


@register(
    "semijoin_members",
    oracle="""
SELECT l_orderkey, l_linenumber, l_suppkey FROM lineitem l
WHERE EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal > 4500)
""",
    tags=("join",),
)
def q_semijoin_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+J5 (pdf §2.2): membership restriction against a small dimension,
    broadcast left-semi."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 4500)
    return R.restrict_to_members(
        li.select("l_orderkey", "l_linenumber", "l_suppkey"),
        s.select(F.col("s_suppkey").alias("l_suppkey")),
        "l_suppkey",
    )


# ---------------------------------------------------------------------------
# A1/A2/A5/A6: aggregations
# ---------------------------------------------------------------------------

@register(
    "agg_count_by_year",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS year, CAST(count(*) AS BIGINT) AS cnt
FROM orders GROUP BY 1
""",
    tags=("agg",),
)
def q_agg_count_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (ref main_dag.py:283 ``groupby('year').size()``)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").cast("int").alias("year")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "agg_sum_by_author",
    oracle="""
SELECT l_suppkey, sum(l_quantity) AS total_qty, CAST(count(*) AS BIGINT) AS cnt
FROM lineitem GROUP BY 1
""",
    tags=("agg",),
)
def q_agg_sum_by_author(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (docx §Proxy Q3 ``groupby('author2').sum()``). l_quantity is
    integral-valued, so the double sum is exact under any partitioning."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.sum("l_quantity").alias("total_qty"), F.count(F.lit(1)).alias("cnt")
    )


@register(
    "distinct_pubs",
    oracle="SELECT DISTINCT l_suppkey, l_partkey FROM lineitem",
    tags=("agg",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (ref main_dag.py:143-148): distinct maintenance — expressed as a
    deterministic full-row DISTINCT (keep-first-by-key lives in
    operators.dedup with an explicit order)."""
    return _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").distinct()


@register(
    "volume_metrics",
    oracle="""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS total_new,
       (SELECT CAST(count(*) AS BIGINT) FROM customer) AS total_unique
""",
    tags=("agg",),
)
def q_volume_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (ref main_dag.py:485-488): one-row volume metrics without
    collecting to the driver."""
    return R.volume_metrics(_t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer"))


@register(
    "agg_rollup",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS year, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
FROM orders GROUP BY ROLLUP (1, 2)
""",
    tags=("agg",),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals — surface the engine exposes beyond the
    reference for free (SURVEY §2.4 note)."""
    o = _t(spark, sf_dir, "orders").withColumn("year", F.year("o_orderdate").cast("int"))
    return o.rollup("year", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "agg_count_distinct",
    oracle="""
SELECT l_returnflag, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem GROUP BY 1
""",
    tags=("agg",),
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-aggregate (the approximate HLL twin is exposed as
    ``approx_distinct``, rows-only — sketches differ across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.countDistinct("l_suppkey").alias("n_suppliers"))


@register(
    "approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS exact_suppliers,
       TRUE AS within_tol
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "sketch"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) with a hash-checkable
    contract: the raw estimate is engine-specific, so the emitted row is
    (group, exact distinct, |approx-exact| <= 5%·exact).  The oracle
    emits (group, exact, TRUE) — the row hashes only if the sketch's
    estimate actually lands inside the tolerance, turning the former
    rows-only check into a real accuracy gate.  rsd=0.01 → 5% is ~5σ."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("exact_suppliers"),
            F.approx_count_distinct("l_suppkey", 0.01).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_suppliers",
            (
                F.abs(F.col("_approx") - F.col("exact_suppliers"))
                <= F.col("exact_suppliers") * F.lit(0.05)
            ).alias("within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# W1/W2/W3: window / sort / limit
# ---------------------------------------------------------------------------

@register(
    "author_ordinal",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_suppkey,
       CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY {LINE_ORDER_SQL}) AS INT) AS ordinal
FROM lineitem
""",
    tags=("window",),
)
def q_author_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (ref main_dag.py:163-175): the reference's 1-based author
    counter as row_number() under a total per-group order."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey", "l_extendedprice")
    return R.member_ordinals(li, "l_orderkey", LINE_ORDER).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "ordinal"
    )


@register(
    "sort_by_key",
    oracle="SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
    tags=("sort",),
)
def q_sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (docx CQL ``CLUSTER BY paper_key ASC``): key-ordered read."""
    return _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


@register(
    "limit_n",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
""",
    tags=("sort",),
)
def q_limit_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (docx §Logs LIMIT 5) — as a deterministic top-k (total order
    with key tiebreak; a bare LIMIT is not reproducible)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return R.top_k(o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 5)


# ---------------------------------------------------------------------------
# U1/U2 + ST2: set ops and the incremental merge contract
# ---------------------------------------------------------------------------

@register(
    "union_all",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'
""",
    tags=("setop",),
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (ref pd.concat, main_dag.py:227-229): bag union by name."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return R.union_all(
        c.filter(F.col("c_mktsegment") == "BUILDING"),
        c.filter(F.col("c_mktsegment") == "MACHINERY"),
    )


@register(
    "except_by_key",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
""",
    tags=("setop",),
)
def q_except_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 (ref unique.drop(to_be_deleted.index), main_dag.py:259-260):
    EXCEPT-by-key (not bag EXCEPT)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    removed = c.filter(F.col("c_mktsegment") == "AUTOMOBILE")
    return R.except_by_key(c, removed, "c_custkey")


@register(
    "incremental_merge",
    oracle="""
WITH old AS (
  SELECT o_orderkey AS key, o_totalprice AS val FROM orders WHERE o_orderkey % 3 <> 0
),
parsed AS (
  SELECT o_orderkey AS key, -1.0 AS val FROM orders WHERE o_orderkey % 2 = 0
)
SELECT key, val FROM old WHERE EXISTS (SELECT 1 FROM parsed p WHERE p.key = old.key)
UNION ALL
SELECT key, val FROM parsed WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.key = parsed.key)
""",
    tags=("setop", "incremental"),
)
def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2/ST4 (ref main_dag.py:242-262): the three-cache snapshot merge.
    Old rows carry their original value; re-parsed rows carry a sentinel
    (-1.0) — the output proves insert-only upsert: survivors keep the OLD
    value, only never-seen keys carry the sentinel."""
    o = _t(spark, sf_dir, "orders")
    known = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("val")
    )
    parsed = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("key"), F.lit(-1.0).alias("val")
    )
    return incremental_merge(known, parsed, "key").next_unique


# ---------------------------------------------------------------------------
# F1-F12: scalar function layer
# ---------------------------------------------------------------------------

@register(
    "f_category",
    oracle="""
SELECT p_partkey,
       substring(split_part(p_type, ' ', 1), 1, length(split_part(p_type, ' ', 1)) - 1) AS category
FROM part
""",
    tags=("scalar",),
)
def q_f_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (ref main_dag.py:177-178): first segment minus trailing char."""
    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", SC.first_token_category("p_type").alias("category"))


@register(
    "f_to_date",
    oracle="SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date FROM lineitem",
    tags=("scalar",),
)
def q_f_to_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (ref main_dag.py:215-218): date parse/truncation."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", F.to_date("l_shipdate").alias("ship_date"))


@register(
    "f_date_format",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS VARCHAR) || '/' || CAST(month(o_orderdate) AS VARCHAR)
         || '/' || CAST(day(o_orderdate) AS VARCHAR) AS run_ts
FROM orders
""",
    tags=("scalar",),
)
def q_f_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (ref main_dag.py:40-41): the Y/M/D watermark format, no zero
    padding."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderkey", SC.run_timestamp("o_orderdate").alias("run_ts"))


@register(
    "f_coalesce",
    oracle="""
SELECT o_orderkey, coalesce(nullif(o_orderpriority, '1-URGENT'), o_orderstatus) AS publisher
FROM orders
""",
    tags=("scalar",),
)
def q_f_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (ref main_dag.py:179-192): publisher fallback chain."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        SC.publisher_coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")),
            F.col("o_orderstatus"),
            F.lit(None).cast("string"),
        ).alias("publisher"),
    )


@register(
    "f_struct",
    oracle="""
SELECT o_orderkey, o_orderpriority AS number, o_orderstatus AS volume,
       CAST(o_custkey AS VARCHAR) AS pages
FROM orders
""",
    tags=("scalar", "nested"),
)
def q_f_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (ref main_dag.py:194-201, docx UDT position): struct build +
    field re-projection (flattened for oracle comparability)."""
    o = _t(spark, sf_dir, "orders")
    pos = SC.position_struct(
        F.col("o_orderpriority"), F.col("o_orderstatus"), F.col("o_custkey").cast("string")
    )
    return o.select("o_orderkey", pos.alias("position")).select(
        "o_orderkey",
        F.col("position.number").alias("number"),
        F.col("position.volume").alias("volume"),
        F.col("position.pages").alias("pages"),
    )


@register(
    "f_from_json",
    oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events
""",
    tags=("scalar", "json"),
)
def q_f_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 (ref main_dag.py:388-390 ast.literal_eval): JSON field
    extraction, JVM-side."""
    e = _t(spark, sf_dir, "events")
    return e.select("event_id", SC.json_int_field("props", "k").alias("k"))


@register(
    "f_map_values",
    oracle="SELECT l_orderkey, CAST(l_suppkey AS VARCHAR) AS pid FROM lineitem",
    tags=("scalar", "nested"),
)
def q_f_map_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9+F11 (ref main_dag.py:159-175 map build; docx map.values()):
    ordinal-keyed map construction then value extraction — round-trips to
    the flat bridge because ordinals are unique per group."""
    li = _t(spark, sf_dir, "lineitem")
    grouped = R.ordinal_keyed_map(li, "l_orderkey", LINE_ORDER, F.col("l_suppkey").cast("string"))
    return grouped.select("l_orderkey", F.explode(SC.map_values_list("member_map")).alias("pid"))


@register(
    "f_parse_int_map",
    oracle=f"""
SELECT l_orderkey,
       CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY {LINE_ORDER_SQL}) AS INT) AS pos,
       CAST(l_suppkey AS VARCHAR) AS pid
FROM lineitem
""",
    tags=("scalar", "json"),
)
def q_f_parse_int_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 proper (ref main_dag.py:388-390 ast.literal_eval of the
    stringified author map): serialize the ordinal-keyed map to JSON,
    parse it back with parse_int_map, explode — the CSV-cache round-trip
    the reference performs between every pipeline stage, proven
    lossless."""
    li = _t(spark, sf_dir, "lineitem")
    grouped = R.ordinal_keyed_map(li, "l_orderkey", LINE_ORDER, F.col("l_suppkey").cast("string"))
    serialized = grouped.select("l_orderkey", F.to_json("member_map").alias("map_json"))
    parsed = serialized.select("l_orderkey", SC.parse_int_map("map_json").alias("m"))
    entries = parsed.select("l_orderkey", F.explode(F.map_entries("m")).alias("e"))
    return entries.select(
        "l_orderkey", F.col("e.key").alias("pos"), F.col("e.value").alias("pid")
    )


@register(
    "f_zip_authors",
    oracle=f"""
SELECT l_orderkey,
       CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY {LINE_ORDER_SQL}) AS INT) AS pos,
       CAST(l_suppkey AS VARCHAR) AS name, CAST(l_partkey AS VARCHAR) AS pid
FROM lineitem
""",
    tags=("scalar", "nested"),
)
def q_f_zip_authors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 (ref main_dag.py:457-465): zip parallel ordinal-keyed maps into
    a struct map, then explode back to rows — proves the zip is lossless."""
    li = _t(spark, sf_dir, "lineitem")
    names = R.ordinal_keyed_map(li, "l_orderkey", LINE_ORDER, F.col("l_suppkey").cast("string"))
    pids = R.ordinal_keyed_map(li, "l_orderkey", LINE_ORDER, F.col("l_partkey").cast("string")).withColumnRenamed(
        "member_map", "pid_map"
    )
    grouped = names.join(pids, "l_orderkey")
    zipped = grouped.select(
        "l_orderkey",
        SC.zip_author_maps(
            F.col("member_map"),
            F.map_from_entries(F.array().cast("array<struct<key:int,value:string>>")),
            F.col("pid_map"),
        ).alias("authors"),
    )
    entry = zipped.select("l_orderkey", F.explode(F.map_entries("authors")).alias("e"))
    return entry.select(
        "l_orderkey",
        F.col("e.key").alias("pos"),
        F.col("e.value.name").alias("name"),
        F.col("e.value.pid").alias("pid"),
    )


@register(
    "f_null_fill",
    oracle="""
SELECT o_orderkey,
       nullif(o_orderstatus, o_orderstatus) AS status_nulled,
       coalesce(nullif(o_orderpriority, '1-URGENT'), '') AS priority_filled
FROM orders
""",
    tags=("scalar",),
)
def q_f_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 (ref main_dag.py:382 ``df.fillna('')``): engine-wide null fill
    via ``na.fill`` — nulls manufactured with nullif since the testdata
    string columns are dense."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif("o_orderstatus", "o_orderstatus").alias("status_nulled"),
        F.nullif("o_orderpriority", F.lit("1-URGENT")).alias("priority_filled"),
    )
    # status_nulled is all-null by construction and EXCLUDED from the fill;
    # the oracle keeps it null — proving subset-fill semantics.
    return o.na.fill("", ["priority_filled"])


# ---------------------------------------------------------------------------
# Proxy Q3/Q4: collaboration totals (docx §Proxy Queries)
# ---------------------------------------------------------------------------

def _collab_totals(spark: SparkSession, sf_dir: str, member: int, year: int | None) -> DataFrame:
    """For each partner supplier, the number of distinct orders that
    carry both ``member`` and the partner on a line item; with ``year``,
    only orders in ``orders`` dated that year. Over referentially intact
    tables this is the ``pair_counts`` fact summed over both orientations
    of ``member``'s pairs. Returns ``(partner, total: bigint)``.

    One pass, no pair table: the member's orders semi-join ``lineitem``,
    the member's own rows are dropped, and distinct (order, supplier)
    rows are counted per supplier."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    mine = li.filter(F.col("l_suppkey") == member).select("l_orderkey")
    if year is not None:
        orders = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == year)
        mine = mine.join(orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_semi")
    return (
        li.filter(F.col("l_suppkey") != member)
        .join(mine, "l_orderkey", "left_semi")
        .distinct()
        .groupBy(F.col("l_suppkey").alias("partner"))
        .agg(F.count(F.lit(1)).alias("total"))
    )


def _collab_oracle(member: int, year: int | None) -> str:
    year_pred = f"AND year = {year}" if year is not None else ""
    return f"""
WITH {PAIR_COUNTS_CTE},
both_sides AS (
  SELECT author2 AS partner, cnt FROM pc WHERE author1 = {member} {year_pred}
  UNION ALL
  SELECT author1 AS partner, cnt FROM pc WHERE author2 = {member} {year_pred}
)
SELECT partner, CAST(sum(cnt) AS BIGINT) AS total FROM both_sides GROUP BY 1
"""


@register("q3_collab_totals", oracle=_collab_oracle(68, None), tags=("workload",))
def q3_collab_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy Q3 (docx): for each partner of member 68, the number of
    orders they share."""
    return _collab_totals(spark, sf_dir, 68, None)


@register("q4_collab_year", oracle=_collab_oracle(9, 1998), tags=("workload",))
def q4_collab_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy Q4 (docx): Q3 restricted to a single year for member 9."""
    return _collab_totals(spark, sf_dir, 9, 1998)


# ---------------------------------------------------------------------------
# Full analytical shapes: TPC-H-flavor scan-agg and join-agg-topk
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
""",
    tags=("agg", "tpch"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 flavor: full-scan pricing summary — the canonical
    map-side-partial-agg shape (few groups, massive input; at 100 TB
    this is one scan + a tiny exchange). DECIMAL arithmetic keeps the
    money sums deterministic."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("double").alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY 1, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("join", "agg", "tpch"),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 flavor: selective 3-way join → revenue agg → top-10.
    Plan: filters push to all three scans, the customer dim side
    broadcast (AQE), revenue partial-aggregates before the exchange,
    top-k via TakeOrderedAndProject (no global sort)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    dec = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    joined = (
        c.select("c_custkey")
        .join(o.select("o_custkey", "o_orderkey", "o_orderdate"), c["c_custkey"] == o["o_custkey"])
        .join(li.select("l_orderkey", "l_extendedprice", "l_discount"), F.col("o_orderkey") == F.col("l_orderkey"))
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("double").alias("revenue")
    )
    return R.top_k(
        agg.select("l_orderkey", "revenue", "o_orderdate"),
        [F.col("revenue").desc(), F.col("l_orderkey")],
        10,
    )


@register(
    "local_supplier_volume",
    oracle="""
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY 1
""",
    tags=("join", "agg", "tpch"),
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 flavor: 6-table snowflake join → revenue per nation —
    the join-ordering/broadcast showcase. region→nation→supplier are
    dims (AQE broadcasts the whole chain); the only big-big join is
    lineitem⋈orders on the shuffle key; date + region filters push to
    the scans so the fact is pruned before any join."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    dec = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
    )
    return joined.groupBy("n_name").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("revenue")
    )


@register(
    "promo_revenue_share",
    oracle="""
SELECT round(
         100.0
         * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
         4) AS promo_share_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01'
""",
    tags=("join", "agg", "tpch"),
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 flavor: promotional revenue share — fact scan with a
    pushed date band, broadcast dim join on part, one conditional
    aggregate. DECIMAL sums, double division rounded at the end."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    dec = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    joined = li.select("l_partkey", "l_extendedprice", "l_discount").join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    )
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
            / F.sum(rev).cast("double"),
            4,
        ).alias("promo_share_pct")
    )


@register(
    "salted_join_agg",
    oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
    tags=("join", "skew"),
)
def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect-then-salt (operators.relational.adaptive_salted_join),
    checked against a plain join oracle: a sampled probe measures the
    hottest l_orderkey share and salts ONLY if it exceeds a task's fair
    share. TPC-H order keys are uniform (≤7 items each), so the probe
    picks the plain join here — the 8× replication price appears only
    when the data actually has a straggler key (the round-2 version
    salted unconditionally and paid 7.6× at 10× scale for insurance the
    data didn't need). Bag-exact either way; same oracle."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = R.adaptive_salted_join(li, o, "l_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# ST1-ST2 batch shape: event-time tumbling window (events table)
# ---------------------------------------------------------------------------

@register(
    "events_tumbling_window",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
    tags=("window", "events"),
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window — the SAME transformation
    (streaming.windows.tumbling_counts) serves batch and stream frames;
    here it runs on the batch frame so DuckDB can oracle it, and
    tests/test_streaming.py asserts stream(availableNow) == this."""
    from is3107datapipelineproject_spark.streaming.windows import tumbling_counts

    return tumbling_counts(_t(spark, sf_dir, "events"))


@register(
    "hll_mergeable_sketch",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_tol
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_tol
FROM events
""",
    tags=("agg", "sketch"),
)
def q_hll_mergeable_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch pipeline — the 100 TB count-distinct
    pattern: each event_type builds its own HyperLogLog sketch
    INDEPENDENTLY (at scale: one sketch per partition/day, persisted as
    binary), and the global distinct-user estimate comes from
    hll_union_agg over those sketch blobs — no re-scan of the raw data.
    Registers merge by max, so the merged estimate is bit-identical to
    a single global sketch at the same precision (asserted in
    tests/test_sketches.py).

    Hash-checkable contract: sketch internals are engine-specific, so
    each row emits (group, exact distinct, |estimate-exact| <= 5%·exact)
    and the oracle emits (group, exact, TRUE) — green only if every
    sketch estimate, including the merged 'ALL' sketch, lands inside the
    tolerance (lgConfigK=12 → ~1.6% rse, 5% ≈ 3σ; deterministic)."""
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 12).alias("sketch"),
        F.countDistinct("user_id").alias("exact_users"),
    )

    def _check(est, exact):
        return (F.abs(est.cast("long") - exact) <= exact * F.lit(0.05)).alias("within_tol")

    typed = per_type.select(
        "event_type",
        "exact_users",
        _check(F.hll_sketch_estimate("sketch"), F.col("exact_users")),
    )
    merged = (
        F.broadcast(per_type.agg(F.hll_union_agg("sketch").alias("m")))
        .crossJoin(F.broadcast(e.agg(F.countDistinct("user_id").alias("exact_users"))))
        .select(
            F.lit("ALL").alias("event_type"),
            "exact_users",
            _check(F.hll_sketch_estimate("m"), F.col("exact_users")),
        )
    )
    return typed.unionByName(merged)
