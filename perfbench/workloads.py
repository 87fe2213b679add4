"""The three workloads. Each calls the program's public functions, times
them from outside, and checks every output against answers computed
apart from the program: plain Python over the generated pages
(gen_dblp.py) for ``refresh`` and ``lookups``, the queries' own DuckDB
oracles for ``analytics``.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from math import comb

import gen_dblp
import gen_tables
from harness import ANALYTICS_QUERIES, Bench

# Papers in the generated corpus: ~30k records a week for refresh. The
# lookups tables are smaller: a lookup's cost is mostly per-job overhead,
# and their build is set-up time.
REFRESH_PAPERS, LOOKUP_PAPERS = 18000, 1500
# --seconds S asks int(S / LOOKUP_ROUND_S) whole rounds of 20 queries
# (at least one; a warm round takes about 2.9 s on 4 cores), so the same
# S always asks the same queries. refresh and analytics do a fixed
# amount of work.
LOOKUP_ROUND_S = 2.5
WARM_ROUNDS = 2  # lookup rounds run in set-up, untimed


def _parse(spark, staging_dir: str):
    """The weekly DAG's read side: staged pages -> deduplicated
    publications (lazy)."""
    from is3107datapipelineproject_spark.domain.publications import derive_publications
    from is3107datapipelineproject_spark.sources.fetch import load_staged
    from is3107datapipelineproject_spark.sources.xml_source import xml_flatten

    raw = xml_flatten(load_staged(spark, staging_dir), "content", "researcher_name")
    return derive_publications(raw).dropDuplicates(["paper_key"])


def _build(b: Bench, staging_dir: str, pubs_dir: str, pairs_dir: str, researchers) -> None:
    """Week-1 build: parse, dedup and write the publications table, then
    the member pair-count fact, year-partitioned."""
    from is3107datapipelineproject_spark.domain.publications import dblp_pair_counts
    from is3107datapipelineproject_spark.plans.layout import write_partitioned

    with b.span("plans.write_partitioned"):
        write_partitioned(_parse(b.spark, staging_dir), pubs_dir)
    with b.span("domain.dblp_pair_counts"):
        pc = dblp_pair_counts(b.spark.read.parquet(pubs_dir), researchers)
        write_partitioned(pc, pairs_dir, partition_cols=("year",), sort_cols=("author1", "author2"))


def _authors(row) -> list[str | None]:
    return [a["pid"] for a in sorted(row["authors"], key=lambda a: a["pos"])]


def _files(directory: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(directory) for f in fs)


class Refresh:
    """The paper's weekly DAG: a cold week-1 build, then week 2 merged
    incrementally against week 1. Two operations per run."""

    def __init__(self, b: Bench):
        self.b = b

    def setup(self) -> None:
        b = self.b
        self.corpus = gen_dblp.generate(b.seed, n_papers=REFRESH_PAPERS)
        self.researchers = b.spark.createDataFrame(self.corpus.members, ["PID", "Name"])
        b.parsed_records = self.corpus.week1.records + self.corpus.week2.records
        # No warm-up: the weekly DAG runs in a fresh session each week, so
        # the JVM's and the Python workers' first use is part of what its
        # users wait for.
        for week, data in (("week1", self.corpus.week1), ("week2", self.corpus.week2)):
            gen_dblp.write_pages(data.pages, self.corpus.members, b.path("pages", week))

    def timed(self) -> None:
        self.b.op("week1_build", self.week1)
        self.b.op("week2_refresh", self.week2)

    def week1(self) -> None:
        b = self.b
        _build(b, b.path("pages", "week1"), b.path("pubs1"), b.path("pairs1"), self.researchers)

    def week2(self) -> None:
        from is3107datapipelineproject_spark.operators.incremental import incremental_merge
        from is3107datapipelineproject_spark.plans.layout import write_partitioned

        b, read = self.b, self.b.spark.read.parquet
        with b.span("plans.write_partitioned"):
            write_partitioned(_parse(b.spark, b.path("pages", "week2")), b.path("parsed2"))
        with b.span("operators.incremental_merge"):
            res = incremental_merge(read(b.path("pubs1")), read(b.path("parsed2")), "paper_key")
            write_partitioned(res.next_unique, b.path("pubs2"))
            self.new = [r.paper_key for r in res.new.select("paper_key").collect()]
            self.deleted = [r.paper_key for r in res.deleted.select("paper_key").collect()]

    def check(self) -> None:
        b, c, read = self.b, self.corpus, self.b.spark.read.parquet
        if any(not ok for _, _, ok in b.ops):
            return
        members = c.member_pids
        w1 = read(b.path("pubs1")).select("paper_key", "year", "title", "authors").collect()
        keys1 = [r.paper_key for r in w1]
        b.expect(len(keys1) == len(set(keys1)), "week-1 paper keys are unique")
        b.expect(set(keys1) == set(c.week1.unique), "week-1 papers = papers on readable pages")
        bad = [r.paper_key for r in w1 if r.paper_key in c.week1.unique and (
            _authors(r) != [pid for pid, _ in c.week1.unique[r.paper_key].authors]
            or r.year != c.week1.unique[r.paper_key].year)]
        b.expect(not bad, f"author order and year of every paper ({len(bad)} wrong)")

        rows = read(b.path("pairs1")).collect()
        pairs = {(r.year, r.author1, r.author2): r["count"] for r in rows}
        b.expect(len(rows) == len(pairs), "one pair-count row per (year, author1, author2)")
        b.expect(pairs == gen_dblp.pair_counts(c.week1.unique, members), "pair counts")
        by_papers = sum(comb(len({p for p in _authors(r) if p in members}), 2) for r in w1)
        total = sum(r["count"] for r in rows)
        b.expect(total == by_papers, f"sum of pair counts {total} = sum of C(m,2) {by_papers}")

        known, parsed = set(c.week1.unique), set(c.week2.unique)
        rows = read(b.path("pubs2")).select("paper_key", "title").collect()
        w2 = {r.paper_key: r.title for r in rows}
        b.expect(len(rows) == len(w2), "week-2 paper keys are unique")
        b.expect(set(self.new) == parsed - known, "new = parsed - known")
        b.expect(set(self.deleted) == known - parsed, "deleted = known - parsed")
        b.expect(not set(self.new) & set(keys1), "new is disjoint from known")
        b.expect(len(rows) == len(keys1) - len(self.deleted) + len(self.new),
                 "|next_unique| = |known| - |deleted| + |new|, in rows written")
        want = {k: (c.week1.unique[k] if k in known else c.week2.unique[k]).title
                for k in (known & parsed) | (parsed - known)}
        b.expect(w2 == want, "next_unique keys, old title kept for re-seen keys")
        b.layer["plans.files_written"] = sum(
            _files(b.path(d)) for d in ("pubs1", "pairs1", "parsed2", "pubs2"))


class Lookups:
    """A closed loop with one client over tables built in set-up."""

    def __init__(self, b: Bench):
        self.b = b

    def setup(self) -> None:
        from is3107datapipelineproject_spark.domain import publications as P

        b = self.b
        self.corpus = gen_dblp.generate(b.seed, n_papers=LOOKUP_PAPERS)
        gen_dblp.write_pages(self.corpus.week1.pages, self.corpus.members, b.path("pages"))
        researchers = b.spark.createDataFrame(self.corpus.members, ["PID", "Name"])
        _build(b, b.path("pages"), b.path("pubs"), b.path("pairs"), researchers)
        self.pubs = b.spark.read.parquet(b.path("pubs"))
        self.pairs = b.spark.read.parquet(b.path("pairs"))
        self.fns = {
            "pair_lookup": lambda *a: P.pair_lookup(self.pairs, *a).select("count"),
            "contains_author": lambda *a: P.contains_author(self.pubs, *a).select("paper_key"),
            "q1_nth_author_count": lambda *a: P.q1_nth_author_count(self.pubs, *a),
            "collab_totals": lambda *a: P.collab_totals(self.pubs, *a),
        }
        # Warm-up: the stream's first WARM_ROUNDS rounds, run here. The
        # first lookups after the build take 1.5-3 times as long while the
        # JVM compiles the planner's code paths.
        rounds = max(1, int(b.seconds / LOOKUP_ROUND_S))
        stream = gen_dblp.lookup_stream(self.corpus, b.seed, WARM_ROUNDS + rounds)
        cut = WARM_ROUNDS * gen_dblp.ROUND_SIZE
        warm, self.stream = stream[:cut], stream[cut:]
        for q in warm:
            self.ask(q)
        self.answers: list[object] = []

    def timed(self) -> None:
        for q in self.stream:
            self.answers.append(self.b.op(q[0], self.ask, q))

    def ask(self, q: tuple):
        kind, *args = q
        with self.b.span(f"domain.{kind}"):
            rows = self.fns[kind](*args).collect()
        if kind == "pair_lookup":
            return rows[0]["count"] if len(rows) == 1 else (None if not rows else rows)
        # Rows as sorted lists, so a duplicated output row shows as wrong.
        if kind == "contains_author":
            return sorted(r.paper_key for r in rows)
        if kind == "q1_nth_author_count":
            return rows[0].cnt
        return sorted((r.partner, r.total) for r in rows)

    def check(self) -> None:
        b, c = self.b, self.corpus
        pairs = gen_dblp.pair_counts(c.week1.unique, c.member_pids)
        wrong = [q for q, got, (_, _, ok) in zip(self.stream, self.answers, b.ops)
                 if ok and got != gen_dblp.answer(c, q, pairs)]
        b.expect(not wrong, f"lookup answers ({len(wrong)} wrong, first {wrong[:1]})")
        # Sum over partners of collab_totals(pid) = sum over the pid's papers of (m - 1),
        # m = distinct pids on the paper, counted from the written table.
        m_minus_1: Counter = Counter()
        for r in self.pubs.select("authors").collect():
            pids = {p for p in _authors(r) if p is not None}
            for p in pids:
                m_minus_1[p] += len(pids) - 1
        for q, got, (_, _, ok) in zip(self.stream, self.answers, b.ops):
            if ok and q[0] == "collab_totals" and q[2] is None:
                b.expect(sum(total for _, total in got) == m_minus_1[q[1]],
                         f"sum of collab_totals({q[1]}) = sum of (m - 1) over its papers")


def _canon(v) -> str:
    """Cell value as compared with the oracle: floats to 9 places (the
    engines may differ in the last bits), everything else by repr."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def _multiset(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


class Analytics:
    """Registered queries over generated sf0.1-sized tables, each run once
    with its result collected to the Spark driver."""

    def __init__(self, b: Bench):
        self.b = b

    def setup(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        b = self.b
        self.sf = b.path("sf")
        gen_tables.generate(b.seed, self.sf)
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={b.spark.sparkContext.defaultParallelism}")
        self.con.execute(f"SET temp_directory='{b.path('tmp', 'duckdb')}'")
        for t in gen_tables.SIZES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        b.spark.range(100_000).selectExpr("sum(id)").collect()  # warm-up
        self.got: dict[str, tuple[list[str], list]] = {}

    def timed(self) -> None:
        for q in ANALYTICS_QUERIES:
            self.b.op(q, self.run, q)

    def run(self, q: str) -> None:
        with self.b.span(f"workload.{q}"):
            df = self.queries[q](self.b.spark, self.sf)
            self.got[q] = (df.columns, df.collect())

    def check(self) -> None:
        for q, (cols, rows) in self.got.items():
            oracle = self.con.sql(self.oracles[q])
            want = _multiset(oracle.columns, oracle.fetchall())
            self.b.expect(sorted(cols) == sorted(oracle.columns), f"{q}: columns")
            self.b.expect(_multiset(cols, rows) == want and len(want) > 0,
                          f"{q}: {len(rows)} rows vs oracle {len(want)}")
        self.con.close()


WORKLOADS = {"refresh": Refresh, "lookups": Lookups, "analytics": Analytics}
