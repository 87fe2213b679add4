"""Co-occurrence pair counts — the engine's flagship operator (SURVEY §2.4 A4).

``pair_counts`` turns a bridge of (group, member) rows — authors on a
paper, suppliers on an order — into one row per unordered member pair
and group attribute with the number of groups the pair shares:

    counts(attrs…, member1, member2) = |{g : member1, member2 ∈ g}|,
    member1 < member2, members compared exactly, nulls ignored

This replaces the reference's driver-side loop, which rescanned the
publication table once per candidate author pair with a substring test
(O(pairs × rows), and prefix pids matched falsely).

Cost: one shuffle on the group key, then a narrow generator emits the
C(n, 2) pairs of each group, then one shuffle on the pair. The shuffle
volume is bounded by the bridge size; only the generator is quadratic in
group size, so pathological groups are capped with ``max_group_size``.
A member restriction is applied before the first shuffle.

Queries about one member's partners (Proxy Q3/Q4) do not need the pair
table: they count the member's groups per partner in one pass
(``domain.publications.collab_totals``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_counts(
    bridge: DataFrame,
    group_col: str,
    member_col: str,
    group_attrs: DataFrame | None = None,
    members: DataFrame | None = None,
    max_group_size: int | None = None,
) -> DataFrame:
    """Count the groups shared by each unordered ``member`` pair.

    Parameters
    ----------
    bridge: (group, member) rows; duplicates and null members are ignored.
    group_attrs: optional dimension keyed by ``group_col`` whose remaining
        columns become extra grouping keys (e.g. publication year); groups
        absent from it contribute no pair. Inner-joined at group
        cardinality, before the pair expansion, and never force-broadcast
        (it scales with the fact).
    members: optional tiny dimension (single column named like
        ``member_col``) restricting which members participate — broadcast
        semi-join applied *before* the pair expansion (SURVEY J3+J5).
    max_group_size: optional guard dropping pathologically large groups
        before the quadratic expansion (a 10k-author "paper" would emit
        50M pairs; cap or salt such groups).

    Returns ``(cnt, attrs…, member1, member2)`` with ``member1 < member2``.

    Plan shape (2 shuffles):

    1. groupBy(group) → sorted distinct member array   [shuffle on group]
    2. join group_attrs at group cardinality           [AQE-chosen strategy]
    3. explode array-side combinations (member1 < member2 by sort order)
       — the quadratic blow-up happens in a narrow generator, no join
    4. groupBy(attrs…, member1, member2).count()       [shuffle on pair]
    """
    b = bridge.select(group_col, member_col)

    if members is not None:
        b = b.join(F.broadcast(members.select(member_col).distinct()), member_col, "left_semi")

    # One shuffle: distinct members per group, sorted so that combinations
    # emit each unordered pair exactly once with member1 < member2.
    grouped = b.groupBy(group_col).agg(F.sort_array(F.collect_set(member_col)).alias("_ms"))

    if max_group_size is not None:
        grouped = grouped.filter(F.size("_ms") <= max_group_size)

    attr_cols: list[str] = []
    if group_attrs is not None:
        # Joined while still one-row-per-group (cheapest point); plain
        # join — group_attrs scales with the fact table, AQE picks the
        # strategy (broadcast at test scale, SMJ at cluster scale).
        attr_cols = [col for col in group_attrs.columns if col != group_col]
        grouped = grouped.join(group_attrs, group_col, "inner")

    # Narrow quadratic generator: posexplode each sorted member array,
    # then explode the suffix slice after each position — C(n,2) pairs
    # per group from two codegen Generate operators.
    step1 = grouped.select(
        *attr_cols, "_ms", F.posexplode("_ms").alias("_i", "member1")
    )
    pairs = step1.select(
        *attr_cols,
        "member1",
        F.explode(
            F.slice(
                "_ms",
                F.col("_i") + 2,
                F.greatest(F.size("_ms") - F.col("_i") - 1, F.lit(0)),
            )
        ).alias("member2"),
    )
    return pairs.groupBy(*attr_cols, "member1", "member2").agg(F.count(F.lit(1)).alias("cnt"))


def supplier_pair_counts(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """The testdata instantiation of the DBLP co-authorship fact:
    suppliers co-occurring on an order ≈ authors co-occurring on a paper
    (FIXTURES.md §A mapping), yearly by order date. Returns ``(cnt,
    year, author1, author2)`` with ``author1 < author2``; orders absent
    from ``orders`` contribute no pair."""
    bridge = lineitem.select("l_orderkey", "l_suppkey")
    years = orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.year("o_orderdate").cast("int").alias("year"),
    )
    out = pair_counts(bridge, "l_orderkey", "l_suppkey", group_attrs=years)
    return out.select(
        F.col("cnt"),
        F.col("year"),
        F.col("member1").alias("author1"),
        F.col("member2").alias("author2"),
    )
