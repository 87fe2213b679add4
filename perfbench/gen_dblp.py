"""Seeded DBLP person pages for two weekly snapshots, and the answers the
pipeline must give on them, computed in plain Python.

Shape of the input (the reference pipeline's scale):

- ``N_MEMBERS`` researchers (the seed dimension). Paper counts per
  researcher follow a Zipf law, so a few prolific researchers have pages
  many times larger than the rest.
- Each paper has 1-8 authors (editors on proceedings and books). At
  least one is a member; the others are members or non-member
  co-authors, a few of them without a ``pid`` attribute. A paper with
  several member authors appears on each of their pages.
- Some pids are string prefixes of others (``12/345``, ``12/3456``), so
  substring matching would give wrong answers.
- A few pages are 404 bodies; a few records lack a ``key``.
- Week 2 removes some papers, adds new ones and retitles a few. The
  pipeline's merge is insert-only, so a retitled paper keeps its week-1
  title.
"""

from __future__ import annotations

import os
import random
from collections import Counter, defaultdict
from dataclasses import dataclass
from itertools import combinations
from urllib.parse import quote

PAGE_404 = "<html><body><h1>404 Not Found</h1></body></html>"
YEARS = (1995, 2024)
# (publication element, key prefix, venue element, weight)
TYPES = (
    ("article", "journals/j", "journal", 45),
    ("inproceedings", "conf/c", "booktitle", 40),
    ("incollection", "books/b", "booktitle", 5),
    ("proceedings", "conf/c", "publisher", 3),
    ("book", "books/b", "publisher", 2),
    ("phdthesis", "phd/t", None, 3),
    ("data", "data/d", None, 2),
)
N_AUTHORS_WEIGHTS = (10, 25, 25, 18, 10, 6, 4, 2)  # for 1..8 authors
N_MEMBERS = 400     # researchers whose pages the pipeline reads
N_OUTSIDERS = 3000  # non-member co-authors
N_404 = 4           # member pages that are 404 bodies


@dataclass
class Paper:
    key: str
    tag: str
    year: int
    title: str
    venue_el: str | None
    venue: str
    authors: list[tuple[str | None, str]]  # (pid, name) in document order
    n_ee: int

    @property
    def pids(self) -> set[str]:
        return {pid for pid, _ in self.authors if pid is not None}

    def xml(self) -> str:
        el = "editor" if self.tag in ("proceedings", "book") else "author"
        people = "".join(
            f'<{el} pid="{pid}">{name}</{el}>' if pid else f"<{el}>{name}</{el}>"
            for pid, name in self.authors
        )
        venue = f"<{self.venue_el}>{self.venue}</{self.venue_el}>" if self.venue_el else ""
        ee = "".join(f"<ee>https://doi.org/10.1/{self.key}/{i}</ee>" for i in range(self.n_ee))
        return (
            f'<r><{self.tag} key="{self.key}" mdate="2024-0{1 + len(self.title) % 9}-15">'
            f"{people}<title>{self.title}</title><year>{self.year}</year>{venue}{ee}"
            f"</{self.tag}></r>"
        )


@dataclass
class Week:
    pages: dict[str, str]        # member pid -> page body
    unique: dict[str, Paper]     # papers on at least one readable page
    records: int                 # keyed records on readable pages (before dedup)


@dataclass
class Corpus:
    members: list[tuple[str, str]]  # (pid, name)
    week1: Week
    week2: Week
    weight: dict[str, float]        # pid -> how often users ask about it

    @property
    def member_pids(self) -> set[str]:
        return {pid for pid, _ in self.members}


def _pids(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        pid = f"{rng.randint(1, 320)}/{rng.randint(100, 9999)}"
        if pid not in taken:
            taken.add(pid)
            out.append(pid)
    return out


def generate(seed: int, n_papers: int) -> Corpus:
    rng = random.Random(seed)
    taken: set[str] = set()
    prefixed = []
    for base in _pids(rng, 10, taken):  # prefix twins: "12/345" and "12/3456"
        twin = f"{base}{rng.randint(0, 9)}"
        if twin not in taken:
            taken.add(twin)
            prefixed += [base, twin]
    member_pids = prefixed + _pids(rng, N_MEMBERS - len(prefixed), taken)
    rng.shuffle(member_pids)
    members = [(pid, f"Member {i}") for i, pid in enumerate(member_pids)]
    outsiders = [(pid, f"Author {i}") for i, pid in enumerate(_pids(rng, N_OUTSIDERS, taken))]
    zipf = [1.0 / (rank + 1) ** 0.9 for rank in range(N_MEMBERS)]
    type_weights = [t[3] for t in TYPES]

    def paper(pid_n: int) -> Paper:
        tag, prefix, venue_el, _ = rng.choices(TYPES, type_weights)[0]
        owner = rng.choices(members, zipf)[0]
        n = 1 if tag == "phdthesis" else rng.choices(range(1, 9), N_AUTHORS_WEIGHTS)[0]
        people = [owner]
        while len(people) < n:
            if rng.random() < 0.3:
                cand = rng.choices(members, zipf)[0]
            else:
                cand = rng.choice(outsiders)
                if rng.random() < 0.03:
                    cand = (None, cand[1])
            if cand[0] is None or all(cand[0] != p[0] for p in people):
                people.append(cand)
        rng.shuffle(people)
        venue_n = rng.randint(0, 60)
        words = " ".join(rng.choice(("graph", "query", "learning", "data", "stream", "index"))
                         for _ in range(rng.randint(2, 6)))
        return Paper(
            key=f"{prefix}{venue_n}/P{pid_n}",
            tag=tag,
            year=rng.randint(*YEARS),
            title=f"On {words} {pid_n}",
            venue_el=venue_el,
            venue=f"Venue {venue_n}",
            authors=people,
            n_ee=rng.randint(0, 2),
        )

    papers1 = [paper(i) for i in range(n_papers)]
    removed = set(rng.sample(range(n_papers), n_papers // 25))
    papers2 = [p for i, p in enumerate(papers1) if i not in removed]
    for i in rng.sample(range(len(papers2)), len(papers2) // 100):
        p = papers2[i]
        papers2[i] = Paper(p.key, p.tag, p.year, p.title + " (revised)", p.venue_el,
                           p.venue, p.authors, p.n_ee)
    papers2 += [paper(i) for i in range(n_papers, n_papers + n_papers // 20)]

    by_rank = sorted(range(N_MEMBERS), key=lambda i: -zipf[i])
    broken = {members[i][0] for i in rng.sample(by_rank[20:], N_404)}
    keyless = {members[i][0] for i in rng.sample(range(N_MEMBERS), N_MEMBERS // 50)}

    def week(papers: list[Paper]) -> Week:
        on_page: dict[str, list[Paper]] = defaultdict(list)
        for p in papers:
            for pid in p.pids:
                on_page[pid].append(p)
        pages, unique, records = {}, {}, 0
        for pid, name in members:
            if pid in broken:
                pages[pid] = PAGE_404
                continue
            mine = on_page.get(pid, [])
            body = "".join(p.xml() for p in mine)
            if pid in keyless:  # a record without a key is skipped by the parser
                body += f"<r><article mdate=\"2024-01-01\"><author pid=\"{pid}\">{name}</author>" \
                        f"<title>Untitled</title><year>2020</year></article></r>"
            pages[pid] = (
                '<?xml version="1.0" encoding="US-ASCII"?>\n'
                f'<dblpperson name="{name}" pid="{pid}" n="{len(mine)}">'
                f'<person key="homepages/{pid}" mdate="2024-01-01"><author pid="{pid}">{name}</author></person>'
                f"{body}<coauthors n=\"0\"></coauthors></dblpperson>"
            )
            records += len(mine)
            for p in mine:
                unique[p.key] = p
        return Week(pages, unique, records)

    w1, w2 = week(papers1), week(papers2)
    count = Counter(pid for p in w1.unique.values() for pid in p.pids)
    weight = {pid: float(count[pid]) for pid, _ in members if count[pid]}
    return Corpus(members, w1, w2, weight)


def write_pages(pages: dict[str, str], members: list[tuple[str, str]], directory: str) -> None:
    """One file per researcher, named as the program's staging step names
    them: ``quote(Name)__pid__quote(PID)`` with ``_`` quoted too."""
    os.makedirs(directory, exist_ok=True)
    enc = lambda s: quote(s, safe="").replace("_", "%5F")  # noqa: E731
    for pid, name in members:
        with open(os.path.join(directory, f"{enc(name)}__pid__{enc(pid)}"), "w") as f:
            f.write(pages[pid])


# --- answers -------------------------------------------------------------

def pair_counts(unique: dict[str, Paper], members: set[str]) -> dict[tuple[int, str, str], int]:
    """(year, author1, author2) -> papers, author1 < author2, members only."""
    out: Counter = Counter()
    for p in unique.values():
        for a, b in combinations(sorted(p.pids & members), 2):
            out[(p.year, a, b)] += 1
    return dict(out)


def contains_author(unique: dict[str, Paper], pid: str) -> set[str]:
    return {k for k, p in unique.items() if pid in p.pids}


def nth_author_count(unique: dict[str, Paper], pid: str, n: int, years: list[int]) -> int:
    return sum(
        1 for p in unique.values()
        if p.year in years and len(p.authors) >= n and p.authors[n - 1][0] == pid
    )


def collab_totals(unique: dict[str, Paper], pid: str, year: int | None = None) -> dict[str, int]:
    out: Counter = Counter()
    for p in unique.values():
        if pid in p.pids and (year is None or p.year == year):
            out.update(p.pids - {pid})
    return dict(out)


# --- the lookup stream ---------------------------------------------------

# One round of the lookups workload: 20 queries, mostly Interactive-2
# pair lookups. Sorted by latency the kinds come pair_lookup (one job) <
# q1_nth_author_count < contains_author < collab_totals, so the median
# (positions 10-11 of 20) lies inside pair_lookup's band (positions 1-14),
# away from the boundary with the next kind.
ROUND = (("pair_lookup", 14), ("q1_nth_author_count", 3), ("contains_author", 2),
         ("collab_totals", 1))
ROUND_SIZE = sum(n for _, n in ROUND)


def lookup_stream(corpus: Corpus, seed: int, rounds: int) -> list[tuple]:
    """Seeded queries, whole rounds of ``ROUND``. Researchers are drawn in
    proportion to their paper count, as users ask about prolific people
    more often. Pairs are asked in stored order (author1 < author2)."""
    rng = random.Random(seed * 7919 + 1)
    unique = corpus.week1.unique
    pids = sorted(corpus.weight)
    w = [corpus.weight[p] for p in pids]
    papers_of: dict[str, list[Paper]] = defaultdict(list)
    for p in unique.values():
        for pid in p.pids:
            papers_of[pid].append(p)
    for v in papers_of.values():
        v.sort(key=lambda p: p.key)
    members = corpus.member_pids
    pairs_of: dict[str, list[tuple[int, str, str]]] = defaultdict(list)
    for key in sorted(pair_counts(unique, members)):
        pairs_of[key[1]].append(key)
        pairs_of[key[2]].append(key)

    def one(kind: str) -> tuple:
        pid = rng.choices(pids, w)[0]
        if kind == "pair_lookup":
            if pairs_of[pid] and rng.random() < 0.75:
                return (kind, *rng.choice(pairs_of[pid]))
            a, b = sorted(rng.sample(pids, 2))
            return (kind, rng.randint(*YEARS), a, b)
        if kind == "contains_author":
            return (kind, pid)
        year = rng.choice(papers_of[pid]).year
        if kind == "q1_nth_author_count":
            return (kind, pid, rng.randint(1, 3), [year - 1, year, year + 1])
        return (kind, pid, year if rng.random() < 0.34 else None)

    stream = []
    for _ in range(rounds):
        batch = [one(kind) for kind, n in ROUND for _ in range(n)]
        rng.shuffle(batch)
        stream += batch
    return stream


def answer(corpus: Corpus, query: tuple, pairs: dict) -> object:
    """The plain-Python answer to one lookup, in the shape ``Lookups.ask``
    returns."""
    kind, *args = query
    unique = corpus.week1.unique
    if kind == "pair_lookup":
        return pairs.get(tuple(args))
    if kind == "contains_author":
        return sorted(contains_author(unique, *args))
    if kind == "q1_nth_author_count":
        return nth_author_count(unique, *args)
    return sorted(collab_totals(unique, *args).items())
