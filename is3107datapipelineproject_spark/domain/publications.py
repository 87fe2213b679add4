"""Publications fact table + DBLP query workload (SURVEY §1, §3.3).

The reference keeps three parallel ``map<int,string>`` author columns
(`/root/reference/main_dag.py:159-175`) and re-zips them downstream
(`main_dag.py:457-465`). The engine's native shape is ONE ordered array
of author structs (FIXTURES.md §B3) built at parse time; the legacy maps
are derivable views (``map_from_entries``), so Q1/Q2 parity with the
reference's CQL model costs one expression, not a storage format.

Queries implement the docx §Proxy Queries / §Query 1-2 semantics with
the SURVEY §3.3 corrections (exact pid match, corrected literals).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.operators.pair_counts import pair_counts


def derive_publications(raw: DataFrame) -> DataFrame:
    """RAW_SCHEMA (xml_source.xml_flatten output) → the B3 publications
    fact: category (F1), publisher coalesce chain (F6,
    `main_dag.py:179-192`), mdate parse (F2). Narrow column work."""
    first_seg = F.element_at(F.split("paper_key", "/"), 1)
    category = F.substring(first_seg, 1, F.length(first_seg) - 1)
    return raw.select(
        "paper_key",
        "title",
        "year",
        "publication_type",
        "authors",
        category.alias("category"),
        F.coalesce("booktitle", "journal", "publisher_raw").alias("publisher"),
        "position",
        "ee",
        "url",
        "crossref",
        F.to_date("mdate", "yyyy-MM-dd").alias("mdate"),
    )


def with_legacy_author_maps(pubs: DataFrame) -> DataFrame:
    """Attach the reference's three parallel ordinal-keyed maps
    (`main_dag.py:159-175`; docx CQL ``map<int,text>``) as derived
    columns — the zip/unzip gymnastics (F9/F11/F12) become one
    ``map_from_entries`` per map over the native array."""

    def as_map(field: str) -> Column:
        return F.map_from_entries(
            F.transform("authors", lambda a: F.struct(a["pos"].alias("key"), a[field].alias("value")))
        )

    return pubs.withColumns(
        {
            "authors_pids": as_map("pid"),
            "authors_orcids": as_map("orcid"),
            "authors_names": as_map("name"),
        }
    )


def author_bridge(pubs: DataFrame) -> DataFrame:
    """Exploded (paper_key, year, pos, pid) bridge — the join-friendly
    author table (SURVEY O3: at 100 TB this is the materialized,
    pid-bucketed answer to CONTAINS-style lookups)."""
    return pubs.select(
        "paper_key",
        "year",
        F.explode("authors").alias("a"),
    ).select("paper_key", "year", F.col("a.pos").alias("pos"), F.col("a.pid").alias("pid"))


def materialize_author_bridge(pubs: DataFrame, table: str, n_buckets: int = 8) -> None:
    """SURVEY O3 materialized at scale: persist the author bridge as a
    table BUCKETED ON pid. Author-membership lookups then become a
    bucket-pruned point read of 1/n_buckets of the bridge instead of a
    full scan of the publications table evaluating ``exists(authors, …)``
    per row — the 100 TB answer to the reference's interactive CONTAINS
    query (docx §Query 1)."""
    from is3107datapipelineproject_spark.plans.layout import write_bucketed

    write_bucketed(author_bridge(pubs), table, "pid", n_buckets)


def contains_author_via_bridge(spark, bridge_table: str, pubs: DataFrame, pid: str) -> DataFrame:
    """Interactive-1 through the materialized bridge: bucket-pruned
    point read of the pid's bridge bucket (SelectedBucketsCount 1/N in
    the scan), then a broadcast LEFT SEMI join carries the (tiny) key
    set to the publications rows — no shuffle Exchange anywhere, no
    per-row array predicate over the corpus. Same result set as
    contains_author (exact pid semantics); plan-asserted by
    test_bridge_lookup_is_bucket_pruned_and_shuffle_free.

    Planning caveat: Spark's auto-bucketed-scan optimization
    (``spark.sql.sources.bucketing.autoBucketedScan.enabled``, default
    true) rewrites a bucketed scan to a plain file scan when the plan
    does not consume the bucket partitioning — a broadcast semi-join
    doesn't, so the point lookup silently loses bucket pruning and
    reads all N buckets. Interactive-lookup sessions should set that
    conf to false (the filter still pushes down either way; pruning is
    the extra 1/N file-listing win)."""
    keys = (
        spark.table(bridge_table)
        .filter(F.col("pid") == pid)
        .select("paper_key")
    )
    return pubs.join(F.broadcast(keys), "paper_key", "left_semi")


def contains_author(pubs: DataFrame, pid: str) -> DataFrame:
    """Interactive-1 (docx §Query 1): ``authors_pids CONTAINS pid`` with
    EXACT element semantics (the reference's substring test,
    `main_dag.py:280-281`, false-positives on prefix pids — SURVEY §3.3)."""
    return pubs.filter(F.exists("authors", lambda a: a["pid"] == pid))


def q1_nth_author_count(pubs: DataFrame, pid: str, n: int, years: list[int]) -> DataFrame:
    """Proxy Q1/Q2 (docx): publications in ``years`` where ``pid`` is the
    n-th author (1-based, editors counted — `main_dag.py:163-175`)."""
    hit = F.exists("authors", lambda a: (a["pos"] == n) & (a["pid"] == pid))
    return pubs.filter(F.col("year").isin(years) & hit).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def dblp_pair_counts(pubs: DataFrame, researchers: DataFrame | None = None) -> DataFrame:
    """A4 over the domain shape: unordered co-author pairs per year from
    the exploded bridge (B5 schema: count, year, author1, author2).
    ``researchers`` (PID column) optionally restricts members — broadcast
    semi-join before the self-join (J3+J5)."""
    bridge = author_bridge(pubs).filter(F.col("pid").isNotNull()).select("paper_key", "pid")
    years = pubs.select("paper_key", "year")
    members = researchers.select(F.col("PID").alias("pid")) if researchers is not None else None
    out = pair_counts(bridge, "paper_key", "pid", group_attrs=years, members=members)
    return out.select(
        F.col("cnt").cast("int").alias("count"),
        "year",
        F.col("member1").alias("author1"),
        F.col("member2").alias("author2"),
    )


def collab_totals(pubs: DataFrame, pid: str, year: int | None = None) -> DataFrame:
    """Proxy Q3/Q4 (docx, corrected literals per SURVEY §3.3): for each
    partner, the number of papers (in ``year``, when given) on which
    both ``pid`` and the partner appear as author or editor. Exact pid
    match; a pid listed twice on a paper counts once, null pids are no
    partners. ``pubs`` holds one row per paper. Returns ``(partner,
    total: bigint)``, empty when ``pid`` has no co-authors.

    One scan of ``pubs``: keep the papers containing ``pid``, explode
    their distinct non-null partner pids, count per partner. Equals
    ``dblp_pair_counts`` summed over both orientations of ``pid``'s
    pairs, without building the pair table."""
    hit = F.exists("authors", lambda a: a["pid"] == pid)
    if year is not None:
        hit = hit & (F.col("year") == year)
    partners = F.array_remove(F.array_distinct(F.array_compact(F.col("authors.pid"))), pid)
    return (
        pubs.filter(hit)
        .select(F.explode(partners).alias("partner"))
        .groupBy("partner")
        .agg(F.count(F.lit(1)).alias("total"))
    )


def pair_lookup(pair_counts_df: DataFrame, year: int, author1: str, author2: str) -> DataFrame:
    """Interactive-2 (docx §Query 2): point lookup on the pair-count fact
    — under the (year) partition layout this is a pruned single-partition
    read. The pair is unordered: the fact stores ``author1 < author2``,
    so the two pids are ordered here, keeping the filter a literal
    equality."""
    author1, author2 = sorted((author1, author2))
    return pair_counts_df.filter(
        (F.col("year") == year) & (F.col("author1") == author1) & (F.col("author2") == author2)
    )


def volume_log(new: DataFrame, unique: DataFrame, run_ts: str) -> DataFrame:
    """B6 volume_update row (`main_dag.py:480-488`): one-row log of the
    run's volumes, timestamp passed in for determinism (F3 format)."""
    n = new.agg(F.count(F.lit(1)).cast("int").alias("total_new"))
    u = unique.agg(F.count(F.lit(1)).cast("int").alias("total_unique"))
    return n.crossJoin(u).select(F.lit(run_ts).alias("timestamp"), "total_new", "total_unique")


def publication_update_log(new: DataFrame, run_ts: str) -> DataFrame:
    """B6 publication_update rows (`main_dag.py:433-478`): the cloud log
    projection — title, zipped author struct map (F12), ee array (F8
    already normalized)."""
    zipped = F.map_from_entries(
        F.transform(
            "authors",
            lambda a: F.struct(
                a["pos"].alias("key"),
                F.struct(a["name"].alias("name"), a["orcid"].alias("orcid"), a["pid"].alias("pid")).alias("value"),
            ),
        )
    )
    return new.select(
        F.lit(run_ts).alias("timestamp"),
        "title",
        zipped.alias("authors"),
        "ee",
    )
