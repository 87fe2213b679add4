"""Domain-path queries: the XML parse pipeline exercised under the
DuckDB oracle.

The testdata has no XML, so `xml_flatten` is oracled via a ROUNDTRIP:
DBLP-shaped person-page XML is synthesized from lineitem/orders with
pure column expressions (deterministic), parsed back through the real
``mapInPandas`` ElementTree kernel, and the exploded author rows must
equal what SQL derives from the base tables directly. This checks the
parser's record dispatch, author ordinals, and attribute extraction on
150k+ documents — not just the handful of fixture files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.sources.tables import load_table
from is3107datapipelineproject_spark.sources.xml_source import xml_flatten
from is3107datapipelineproject_spark.workload.registry import register
from is3107datapipelineproject_spark.workload.star_queries import LINE_ORDER_SQL


def synth_order_xml(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """One DBLP-person-page-shaped XML document per order: each line item
    becomes an <author> (pid = suppkey) in LINE_ORDER, the order date's
    year becomes <year>. All values numeric → no escaping needed."""
    frag = F.concat(
        F.lit('<author pid="'),
        F.col("l_suppkey").cast("string"),
        F.lit('">s'),
        F.col("l_suppkey").cast("string"),
        F.lit("</author>"),
    )
    # array_sort over (LINE_ORDER…, frag) structs = deterministic author
    # order matching the oracle's row_number ordinal.
    sort_struct = F.struct(
        F.col("l_linenumber").alias("o0"),
        F.col("l_suppkey").alias("o1"),
        F.col("l_partkey").alias("o2"),
        F.col("l_extendedprice").alias("o3"),
        frag.alias("frag"),
    )
    authors = lineitem.groupBy("l_orderkey").agg(
        F.concat_ws(
            "", F.transform(F.array_sort(F.collect_list(sort_struct)), lambda s: s["frag"])
        ).alias("authors_xml")
    )
    year = orders.select(
        F.col("o_orderkey").alias("l_orderkey"), F.year("o_orderdate").cast("int").alias("year")
    )
    return authors.join(year, "l_orderkey").select(
        F.concat(
            F.lit('<?xml version="1.0"?><dblpperson><r><article key="conf/o/'),
            F.col("l_orderkey").cast("string"),
            F.lit('" mdate="2020-01-02"><title>t</title><year>'),
            F.col("year").cast("string"),
            F.lit("</year>"),
            F.col("authors_xml"),
            F.lit("</article></r></dblpperson>"),
        ).alias("content")
    )


@register(
    "xml_flatten",
    oracle=f"""
WITH ranked AS (
  SELECT l_orderkey, l_suppkey,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY {LINE_ORDER_SQL}) AS rn
  FROM lineitem
)
SELECT 'conf/o/' || CAST(r.l_orderkey AS VARCHAR) AS paper_key,
       CAST(year(o.o_orderdate) AS INT) AS year,
       CAST(r.rn AS INT) AS pos,
       CAST(r.l_suppkey AS VARCHAR) AS pid
FROM ranked r JOIN orders o ON o.o_orderkey = r.l_orderkey
""",
    tags=("source", "xml", "domain"),
)
def q_xml_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/X2 roundtrip: synthesize per-order DBLP XML → parse with the
    real ElementTree mapInPandas kernel → explode authors. Must equal
    the direct SQL derivation (checks dispatch, ordinals, attributes)."""
    staged = synth_order_xml(load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders"))
    raw = xml_flatten(staged, "content")
    return raw.select("paper_key", "year", F.explode("authors").alias("a")).select(
        "paper_key", "year", F.col("a.pos").alias("pos"), F.col("a.pid").alias("pid")
    )


def _synth_pubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nested publications fact (domain.publications.B3 shape) of
    the synthesized corpus — XML synth → mapInPandas parse →
    derive_publications — built once per session into
    ``dblp_pubs_<tag>`` (plans/indexes.py::build_once), which every
    query below reads. They run the REAL domain operators over this
    nested authors-array schema, so the driver oracles the domain layer
    itself, not a star-schema twin; the parse is oracled through the
    first query of each session and directly by ``xml_flatten``."""
    from is3107datapipelineproject_spark.domain.publications import derive_publications
    from is3107datapipelineproject_spark.plans.indexes import _tag, build_once

    table = f"dblp_pubs_{_tag(sf_dir)}"

    def build() -> None:
        staged = synth_order_xml(
            load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
        )
        pubs = derive_publications(xml_flatten(staged, "content"))
        pubs.write.mode("overwrite").format("parquet").saveAsTable(table)

    build_once(spark, f"{table}_ready", [table], build)
    return spark.table(table)


@register(
    "dblp_contains_author",
    oracle="""
SELECT 'conf/o/' || CAST(o_orderkey AS VARCHAR) AS paper_key,
       CAST(year(o_orderdate) AS INT) AS year,
       'con' AS category
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_suppkey = 1)
""",
    tags=("domain", "filter"),
)
def q_dblp_contains_author(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive-1 (docx §Query 1) on the NESTED schema: exact-pid
    ``exists(authors, …)`` membership (domain.publications
    .contains_author — the corrected F14 semantics), projected to
    scalar columns for the oracle."""
    from is3107datapipelineproject_spark.domain.publications import contains_author

    pubs = _synth_pubs(spark, sf_dir)
    return contains_author(pubs, "1").select("paper_key", "year", "category")


@register(
    "dblp_nth_author_count",
    oracle=f"""
WITH ranked AS (
  SELECT l_orderkey, l_suppkey,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY {LINE_ORDER_SQL}) AS rn
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS cnt
FROM ranked r JOIN orders o ON o.o_orderkey = r.l_orderkey
WHERE r.rn = 2 AND r.l_suppkey = 1
  AND year(o.o_orderdate) IN (1995, 1996, 1997)
""",
    tags=("domain", "agg"),
)
def q_dblp_nth_author_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy Q1/Q2 (docx) on the nested schema: publications in the year
    set where pid is the n-th author, via positional ``exists`` over the
    authors array (domain.publications.q1_nth_author_count)."""
    from is3107datapipelineproject_spark.domain.publications import q1_nth_author_count

    pubs = _synth_pubs(spark, sf_dir)
    return q1_nth_author_count(pubs, "1", 2, [1995, 1996, 1997])


@register(
    "dblp_collab_totals",
    oracle="""
WITH bridge AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT CAST(b2.l_suppkey AS VARCHAR) AS partner,
       CAST(count(*) AS BIGINT) AS total
FROM bridge b1
JOIN bridge b2 ON b1.l_orderkey = b2.l_orderkey
             AND b1.l_suppkey <> b2.l_suppkey
WHERE b1.l_suppkey = 1
GROUP BY 1
""",
    tags=("domain", "pairs"),
)
def q_dblp_collab_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy Q3/Q4 (docx, corrected literals) on the nested schema: for
    each partner of author ``1``, the number of papers they share
    (domain.publications.collab_totals over the synthetic publications)."""
    from is3107datapipelineproject_spark.domain.publications import collab_totals

    pubs = _synth_pubs(spark, sf_dir)
    return collab_totals(pubs, "1")


def _dblp_pair_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the co-author pair-count fact the reference
    STORES as its Cassandra `pair_count` table (docx §CQL DDL:
    partition key year, clustering (author1, author2)): the nested
    pipeline's dblp_pair_counts written year-PARTITIONED and sorted by
    the author pair — Query 2's point lookup then directory-prunes to
    one year and row-group-skips on the authors, exactly the read
    profile the reference's query-first layout buys. Built once per
    session from the publications fact (:func:`_synth_pubs`)."""
    from is3107datapipelineproject_spark.domain.publications import dblp_pair_counts
    from is3107datapipelineproject_spark.plans.indexes import _tag, build_once

    table = f"dblp_pairs_{_tag(sf_dir)}"

    def build() -> None:
        pc = dblp_pair_counts(_synth_pubs(spark, sf_dir))
        (
            pc.repartition("year")
            .sortWithinPartitions("year", "author1", "author2")
            .write.mode("overwrite")
            .format("parquet")
            .partitionBy("year")
            .saveAsTable(table)
        )

    build_once(spark, f"{table}_ready", [table], build)
    return table


@register(
    "dblp_pair_lookup",
    oracle="""
WITH bridge AS (SELECT DISTINCT l_orderkey, CAST(l_suppkey AS VARCHAR) AS pid FROM lineitem),
p AS (
  SELECT year(o.o_orderdate) AS year, a.pid AS a1, b.pid AS a2
  FROM bridge a JOIN bridge b ON a.l_orderkey = b.l_orderkey AND a.pid < b.pid
  JOIN orders o ON o.o_orderkey = a.l_orderkey
)
SELECT CAST(count(*) AS INT) AS count, CAST(year AS INT) AS year,
       a1 AS author1, a2 AS author2
FROM p WHERE year = 1995 AND a1 = '1' AND a2 = '8'
GROUP BY 2, 3, 4
""",
    tags=("domain", "interactive", "pairs", "materialize"),
)
def q_dblp_pair_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive-2 (docx §Query 2 CQL DML: SELECT count FROM
    pair_count WHERE year=? AND author1=? AND author2=?) on the NESTED
    schema: a compound-key point lookup against the MATERIALIZED
    year-partitioned pair-count fact (:func:`_dblp_pair_table`) — the
    reference stores this table in Cassandra and Query 2 reads it, so
    the faithful port is a stored-table read, not a per-query fact
    rebuild (×100 probe: 88 s rebuilt vs a pruned point read). The
    lookup's year literal becomes a planning-time PartitionFilter
    (plan-asserted in tests/test_indexes.py); the oracle recomputes the
    pair from raw lineitem/orders — the build-correctness check. The
    (1995, '1', '8') pair co-occurs at every test SF, so the lookup is
    non-trivial everywhere. Domain-grade twin of the star-shape
    `q_point_lookup`; Interactive-1 = dblp_contains_author."""
    from is3107datapipelineproject_spark.domain.publications import pair_lookup

    table = _dblp_pair_table(spark, sf_dir)
    return pair_lookup(spark.table(table), 1995, "1", "8").select(
        "count", F.col("year").cast("int").alias("year"), "author1", "author2"
    )
