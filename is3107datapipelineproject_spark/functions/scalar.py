"""Scalar expression library — SURVEY.md §2.7 (F1–F14), Spark-first.

Each helper returns a Column built from JVM-side built-ins (whole-stage
codegen; no Python UDFs), re-expressing a scalar computation the reference
performs row-at-a-time in pandas.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def category(key: Column | str) -> Column:
    """F1 — reference `main_dag.py:177-178`:
    ``paper_key.split('/')[0][0:-1]`` — first path segment minus its
    trailing character (``journals/tog/X`` → ``journal``, ``conf/…`` →
    ``con``)."""
    key = F.col(key) if isinstance(key, str) else key
    seg = F.split(key, "/").getItem(0)
    return seg.substr(F.lit(1), F.length(seg) - 1)


def first_token_category(col: Column | str, sep: str = " ") -> Column:
    """F1 generalized to any separator (testdata uses space-separated
    ``p_type``)."""
    col = F.col(col) if isinstance(col, str) else col
    seg = F.split(col, sep).getItem(0)
    return seg.substr(F.lit(1), F.length(seg) - 1)


def run_timestamp(col: Column | str) -> Column:
    """F3 — `main_dag.py:40-41` watermark format ``Y/M/D`` with NO zero
    padding (e.g. ``2023/4/7``)."""
    return F.date_format(col, "y/M/d")


def publisher_coalesce(booktitle: Column, journal: Column, publisher: Column) -> Column:
    """F6 — `main_dag.py:179-192` publisher := first non-null of
    booktitle, journal, publisher."""
    return F.coalesce(booktitle, journal, publisher)


def position_struct(number: Column, volume: Column, pages: Column) -> Column:
    """F7 — `main_dag.py:194-201` the CQL UDT ``position(number, volume,
    pages)`` as a StructType column."""
    return F.struct(number.alias("number"), volume.alias("volume"), pages.alias("pages"))


def parse_int_map(col: Column | str) -> Column:
    """F10 — `main_dag.py:388-390` ``ast.literal_eval`` of a stringified
    ``{int: str}`` dict. JSON map keys are strings by spec (from_json
    rejects int keys), so parse as map<string,string> and cast keys back
    to int — the exact literal_eval restoration. Native nested types
    make this unnecessary inside the engine; it exists for the CSV-cache
    round-trip parity path."""
    m = F.from_json(col, "map<string,string>")
    return F.map_from_entries(
        F.transform(
            F.map_entries(m),
            lambda e: F.struct(e["key"].cast("int").alias("key"), e["value"].alias("value")),
        )
    )


def json_int_field(col: Column | str, field: str) -> Column:
    """F10 variant: extract one integer field from a JSON string column."""
    return F.get_json_object(col if isinstance(col, Column) else F.col(col), f"$.{field}").cast("int")


def map_values_list(col: Column | str) -> Column:
    """F11 — docx §Proxy Q1/Q2 ``dict(row.authors_pids).values()``."""
    return F.map_values(col if isinstance(col, Column) else F.col(col))


def zip_author_maps(names: Column, orcids: Column, pids: Column) -> Column:
    """F12 — `main_dag.py:457-465`: zip three parallel ``map<int,string>``
    columns into ``map<int, struct<name,orcid,pid>>`` (the AstraDB log
    UDT shape) without leaving the JVM."""
    return F.map_from_entries(
        F.transform(
            F.map_entries(names),
            lambda e: F.struct(
                e["key"].alias("key"),
                F.struct(
                    e["value"].alias("name"),
                    orcids[e["key"]].alias("orcid"),
                    pids[e["key"]].alias("pid"),
                ).alias("value"),
            ),
        )
    )


def normalized_fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase text.
    Portable: identical semantics in DuckDB (`md5`, `regexp_replace(…,'g')`)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))
