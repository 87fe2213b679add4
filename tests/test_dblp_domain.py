"""DBLP domain end-to-end: XML parse (B2 fixtures) → publications (B3) →
incremental merge (B4) → proxy/interactive queries (SURVEY §3.3).

Fixture XML covers every branch of the reference's transform
(`/root/reference/main_dag.py:83-239`): all dispatch tags, coauthors
skip, corrupt body, missing key, editor-as-author, ee 0/1/2, publisher
fallback variants, and the prefix-pid pair that pins exact-vs-substring
containment (F14)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from is3107datapipelineproject_spark.domain import publications as P
from is3107datapipelineproject_spark.operators.incremental import incremental_merge
from is3107datapipelineproject_spark.sources.xml_source import parse_person_page, xml_flatten
from is3107datapipelineproject_spark.workload.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare_spark_duckdb

PAGE_A = """<?xml version="1.0"?>
<dblpperson name="Alice">
  <coauthors><co>Bob</co></coauthors>
  <r><article key="journals/tog/A20" mdate="2020-03-04">
    <title>Alpha</title><year>2020</year>
    <author pid="1/234" orcid="0000-1">Alice</author>
    <author pid="11/2345">Bob</author>
    <author pid="2/999">Carol</author>
    <journal>TOG</journal><volume>39</volume><number>4</number><pages>1-12</pages>
    <ee>https://doi.org/x</ee><ee>https://arxiv.org/y</ee>
    <url>db/journals/tog/tog39.html</url>
  </article></r>
  <r><inproceedings key="conf/cvpr/A19" mdate="2019-06-01">
    <title>Beta</title><year>2019</year>
    <author pid="1/234">Alice</author>
    <author pid="11/2345">Bob</author>
    <booktitle>CVPR</booktitle>
    <ee>https://doi.org/z</ee>
    <crossref>conf/cvpr/2019</crossref>
  </inproceedings></r>
  <r><book key="books/sp/A18" mdate="2018-01-01">
    <title>Gamma</title><year>2018</year>
    <editor pid="1/234">Alice</editor>
    <publisher>Springer</publisher>
  </book></r>
  <r><mastersthesis key="phd/A15" mdate="2015-05-05">
    <title>Delta</title><year>2015</year>
    <author pid="1/234">Alice</author>
  </mastersthesis></r>
  <r><www key="homepages/1/234" mdate="2021-01-01">
    <author pid="1/234">Alice</author>
  </www></r>
  <r><article mdate="2022-01-01"><title>NoKey</title><year>2022</year></article></r>
</dblpperson>
"""

PAGE_B = """<?xml version="1.0"?>
<dblpperson name="Bob">
  <r><article key="journals/tog/A20" mdate="2020-03-04">
    <title>Alpha</title><year>2020</year>
    <author pid="1/234" orcid="0000-1">Alice</author>
    <author pid="11/2345">Bob</author>
    <author pid="2/999">Carol</author>
    <journal>TOG</journal>
  </article></r>
  <r><phdthesis key="phd/B16" mdate="2016-02-02">
    <title>Epsilon</title><year>2016</year>
    <author pid="11/2345">Bob</author>
  </phdthesis></r>
</dblpperson>
"""

PAGE_CORRUPT = "<html><body>404 Not Found</body></html>"


@pytest.fixture(scope="module")
def staged(spark):
    return spark.createDataFrame(
        [("Alice", PAGE_A), ("Bob", PAGE_B), ("Corrupt", PAGE_CORRUPT)],
        ["researcher_name", "content"],
    )


@pytest.fixture(scope="module")
def pubs(spark, staged):
    raw = xml_flatten(staged, "content", "researcher_name")
    return P.derive_publications(raw).dropDuplicates(["paper_key"]).cache()


def test_parser_pure_python_branches():
    rows = parse_person_page(PAGE_A, "Alice")
    by_key = {r["paper_key"]: r for r in rows}
    # no-key record skipped, coauthors skipped, 5 kept
    assert set(by_key) == {
        "journals/tog/A20", "conf/cvpr/A19", "books/sp/A18", "phd/A15", "homepages/1/234"
    }
    alpha = by_key["journals/tog/A20"]
    assert [a["pos"] for a in alpha["authors"]] == [1, 2, 3]
    assert alpha["authors"][0]["orcid"] == "0000-1"
    assert alpha["authors"][1]["orcid"] is None
    assert alpha["ee"] == ["https://doi.org/x", "https://arxiv.org/y"]  # F8: always array
    assert by_key["conf/cvpr/A19"]["ee"] == ["https://doi.org/z"]
    assert by_key["books/sp/A18"]["ee"] == []
    # editor counted as author (main_dag.py:165-167, intended)
    assert by_key["books/sp/A18"]["authors"][0]["name"] == "Alice"
    assert by_key["phd/A15"]["publication_type"] == "mastersthesis"
    assert alpha["position"] == {"number": "4", "volume": "39", "pages": "1-12"}
    assert parse_person_page(PAGE_CORRUPT, "x") == []  # S6


def test_derived_columns(pubs):
    rows = {r.paper_key: r for r in pubs.collect()}
    assert rows["journals/tog/A20"].category == "journal"  # F1: segment minus last char
    assert rows["conf/cvpr/A19"].category == "con"
    assert rows["books/sp/A18"].category == "book"
    assert rows["journals/tog/A20"].publisher == "TOG"      # journal branch
    assert rows["conf/cvpr/A19"].publisher == "CVPR"        # booktitle branch
    assert rows["books/sp/A18"].publisher == "Springer"     # publisher branch
    assert rows["phd/A15"].publisher is None
    assert str(rows["journals/tog/A20"].mdate) == "2020-03-04"
    assert rows["homepages/1/234"].year is None


def test_legacy_author_maps(pubs):
    legacy = P.with_legacy_author_maps(pubs)
    r = legacy.filter(F.col("paper_key") == "journals/tog/A20").collect()[0]
    assert r.authors_pids == {1: "1/234", 2: "11/2345", 3: "2/999"}
    assert r.authors_names[2] == "Bob"
    assert r.authors_orcids[1] == "0000-1"


def test_contains_author_exact_not_substring(pubs):
    """F14: pid '1/234' must NOT match '11/2345' (the reference's
    substring bug, main_dag.py:280-281 — we implement the intent)."""
    keys = {r.paper_key for r in P.contains_author(pubs, "1/234").collect()}
    assert "phd/B16" not in keys  # only author is 11/2345
    assert "journals/tog/A20" in keys
    keys_b = {r.paper_key for r in P.contains_author(pubs, "11/2345").collect()}
    assert "phd/B16" in keys_b


def test_q1_nth_author(pubs):
    # Bob (11/2345) is 2nd author on Alpha(2020) and Beta(2019)
    assert P.q1_nth_author_count(pubs, "11/2345", 2, [2019, 2020]).collect()[0].cnt == 2
    assert P.q1_nth_author_count(pubs, "11/2345", 2, [2019]).collect()[0].cnt == 1
    assert P.q1_nth_author_count(pubs, "2/999", 3, [2020]).collect()[0].cnt == 1
    assert P.q1_nth_author_count(pubs, "1/234", 2, [2015, 2020]).collect()[0].cnt == 0


def test_pair_counts_and_collabs(pubs):
    pc = P.dblp_pair_counts(pubs)
    got = {(r.year, r.author1, r.author2): r["count"] for r in pc.collect()}
    # Alpha 2020: pairs (1/234,11/2345), (1/234,2/999), (11/2345,2/999)
    assert got[(2020, "1/234", "11/2345")] == 1
    assert got[(2020, "1/234", "2/999")] == 1
    assert got[(2020, "11/2345", "2/999")] == 1
    # Beta 2019: (1/234, 11/2345)
    assert got[(2019, "1/234", "11/2345")] == 1

    totals = {r.partner: r.total for r in P.collab_totals(pubs, "11/2345").collect()}
    assert totals == {"1/234": 2, "2/999": 1}

    lookup = P.pair_lookup(pc, 2020, "1/234", "2/999").collect()
    assert len(lookup) == 1 and lookup[0]["count"] == 1
    swapped = P.pair_lookup(pc, 2020, "2/999", "1/234").collect()
    assert len(swapped) == 1 and swapped[0]["count"] == 1


def _oracle_collab_totals(rows, pid, year=None):
    """Plain-Python Q3/Q4: per partner, the papers shared with ``pid``."""
    out = Counter()
    for authors, paper_year in rows:
        pids = {p for p in authors if p is not None}
        if pid in pids and (year is None or paper_year == year):
            out.update(pids - {pid})
    return dict(out)


def test_collab_totals_edge_cases(spark):
    author = "struct<pos:int,name:string,orcid:string,pid:string>"
    papers = [
        # pid both author and editor on one paper: counted once
        ("p1", 2020, ["1/23", "1/23", "5/5"]),
        # null-pid co-author: never a partner
        ("p2", 2020, ["1/23", None, "1/234"]),
        # null year: in Q3 totals, never in a Q4 year
        ("p3", None, ["1/23", "7/7"]),
        # prefix pid 1/234 without 1/23
        ("p4", 2019, ["1/234", "5/5"]),
        # a pid with no co-authors
        ("p5", 2021, ["9/9"]),
    ]
    frame = spark.createDataFrame(
        [(k, y, [(i + 1, None, None, p) for i, p in enumerate(ps)]) for k, y, ps in papers],
        f"paper_key string, year int, authors array<{author}>",
    )
    rows = [(ps, y) for _, y, ps in papers]
    for pid in ["1/23", "1/234", "5/5", "7/7", "9/9", "0/0"]:
        for year in [None, 2019, 2020, 2021]:
            got = P.collab_totals(frame, pid, year)
            totals = {r.partner: r.total for r in got.collect()}
            assert totals == _oracle_collab_totals(rows, pid, year), (pid, year)
    assert dict(got.dtypes) == {"partner": "string", "total": "bigint"}
    assert {r.partner: r.total for r in P.collab_totals(frame, "1/23").collect()} == {
        "5/5": 1, "1/234": 1, "7/7": 1
    }
    assert P.collab_totals(frame, "0/0").collect() == []
    assert P.collab_totals(frame, "9/9").collect() == []


def test_collab_totals_equals_pair_counts_both_orientations(pubs):
    pairs = P.dblp_pair_counts(pubs).collect()
    for pid in ["1/234", "11/2345", "2/999"]:
        for year in [None, 2020]:
            want = Counter()
            for r in pairs:
                if year is None or r.year == year:
                    if r.author1 == pid:
                        want[r.author2] += r["count"]
                    elif r.author2 == pid:
                        want[r.author1] += r["count"]
            got = {r.partner: r.total for r in P.collab_totals(pubs, pid, year).collect()}
            assert got == dict(want) and got, (pid, year)


def test_collab_totals_runs_at_most_two_jobs(spark, pubs, tmp_path):
    """One scan and one partner aggregate: at most a shuffle-map job and a
    result job per call, on a stored table as the lookups read it."""
    pubs.write.parquet(f"{tmp_path}/pubs")
    stored = spark.read.parquet(f"{tmp_path}/pubs")
    sc = spark.sparkContext
    group = "collab_totals_job_pin"
    sc.setJobGroup(group, group)
    try:
        P.collab_totals(stored, "11/2345").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs


def test_incremental_epochs(spark, pubs):
    """B4: epoch2 = epoch1 - phd/A15 + journals/x/N23; merge contract
    (new / deleted / next_unique) + no-change run yields empty deltas
    (the reference's header-only cache goldens)."""
    epoch1 = pubs
    new_row = epoch1.filter(F.col("paper_key") == "phd/B16").withColumn(
        "paper_key", F.lit("journals/x/N23")
    )
    epoch2 = epoch1.filter(F.col("paper_key") != "phd/A15").unionByName(new_row)

    m = incremental_merge(epoch1, epoch2, "paper_key")
    assert {r.paper_key for r in m.new.select("paper_key").collect()} == {"journals/x/N23"}
    assert {r.paper_key for r in m.deleted.select("paper_key").collect()} == {"phd/A15"}
    next_keys = {r.paper_key for r in m.next_unique.select("paper_key").collect()}
    assert "phd/A15" not in next_keys and "journals/x/N23" in next_keys
    assert m.next_unique.count() == epoch1.count()  # -1 +1

    # no-change run: empty deltas, identical unique set (ST4 no-op upsert)
    m2 = incremental_merge(epoch1, epoch1, "paper_key")
    assert m2.new.count() == 0
    assert m2.deleted.count() == 0
    assert m2.next_unique.count() == epoch1.count()


def test_log_projections(spark, pubs):
    new = pubs.filter(F.col("paper_key") == "journals/tog/A20")
    vol = P.volume_log(new, pubs, "2020/3/4").collect()[0]
    assert (vol.timestamp, vol.total_new, vol.total_unique) == ("2020/3/4", 1, pubs.count())
    upd = P.publication_update_log(new, "2020/3/4").collect()[0]
    assert upd.title == "Alpha"
    assert upd.authors[1].pid == "1/234" and upd.authors[1].orcid == "0000-1"
    assert upd.authors[3].name == "Carol"
    assert list(upd.ee) == ["https://doi.org/x", "https://arxiv.org/y"]


def test_bridge_lookup_is_bucket_pruned_and_shuffle_free(spark, pubs, tmp_path):
    """O3 at scale: the pid-bucketed bridge must turn author-membership
    lookup into (a) a bucket-pruned scan — 1 of N buckets read, not the
    full bridge — and (b) a broadcast semi-join with no shuffle Exchange
    on the publications side."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bridgedb LOCATION '{tmp_path}/bridgedb'")
    # Auto-bucketed-scan would rewrite the (join-side-unused) bucketed
    # scan to a plain one and silently drop bucket pruning — the lookup
    # session must pin it off (see contains_author_via_bridge docstring).
    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        # Materialize pubs as the stored table it would be in production
        # (the in-memory fixture carries its dedup Exchange upstream,
        # which would pollute the lookup-plan assertion).
        pubs.write.parquet(f"{tmp_path}/pubs")
        stored = spark.read.parquet(f"{tmp_path}/pubs")
        P.materialize_author_bridge(stored, "bridgedb.author_bridge", n_buckets=4)

        q = P.contains_author_via_bridge(spark, "bridgedb.author_bridge", stored, "1/234")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 4" in plan   # bucket pruning fired
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        assert "Exchange hashpartitioning" not in plan       # no shuffle anywhere

        got = {r.paper_key for r in q.collect()}
        want = {r.paper_key for r in P.contains_author(pubs, "1/234").collect()}
        assert got == want and len(want) > 0
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
        spark.sql("DROP DATABASE IF EXISTS bridgedb CASCADE")


def test_dblp_queries_share_one_publications_build(spark, duck):
    """The synthetic publications fact is built once per session: a
    dblp_* query run after another reads the stored table, so its plan
    holds no Python map node (the XML parse), and both queries still
    equal their DuckDB oracles at sf0.01."""
    _ensure_loaded()
    first, second = REGISTRY["dblp_nth_author_count"], REGISTRY["dblp_contains_author"]
    compare_spark_duckdb(first.fn(spark, SF_ORACLE), duck, first.oracle, name=first.name)
    df = second.fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan, plan[:800]
    compare_spark_duckdb(df, duck, second.oracle, name=second.name)
