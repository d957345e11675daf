"""Element-ID construction (type affixing).

Replicates ``IterativeAdapter.make_id``
(/root/reference/src/ontoweaver/iterative.py:95-129): IDs optionally carry a
type affix — ``prefix`` -> ``{type}{sep}{name}``, ``suffix`` ->
``{name}{sep}{type}``, ``none`` -> the raw value. Default separator ``":"``
(/root/reference/src/ontoweaver/__init__.py:309). The type used in the affix
is the element's *final* type when a ``final_type`` override is declared,
else its declared target type (/root/reference/src/ontoweaver/iterative.py:281-292).

The compiler emits its projection as SQL text, hence :func:`affix_sql` and
:func:`sql_str`, the one quoting helper every mapping literal goes through.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

AFFIXES = ("none", "prefix", "suffix")


def affix_id(name: Column, type_: Column, affix: str = "none", sep: str = ":") -> Column:
    """Build the element ID Column from a name value and its type label."""
    if affix not in AFFIXES:
        raise ValueError(f"unknown affix {affix!r}, expected one of {AFFIXES}")
    if affix == "prefix":
        return F.concat(type_, F.lit(sep), name)
    if affix == "suffix":
        return F.concat(name, F.lit(sep), type_)
    return name


def sql_str(s) -> str:
    """``s`` as a Spark SQL string literal. Escapes the backslash and the
    quote, and writes ``$`` as ``\\u0024``: ``selectExpr`` substitutes
    ``${...}`` variables even inside string literals."""
    s = str(s).replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{s}'"


def affix_sql(name: str, type_: str, affix: str = "none", sep: str = ":") -> str:
    """SQL rendering of :func:`affix_id` over the SQL expressions
    ``name`` and ``type_``."""
    if affix not in AFFIXES:
        raise ValueError(f"unknown affix {affix!r}, expected one of {AFFIXES}")
    if affix == "prefix":
        return f"concat({type_}, {sql_str(sep)}, {name})"
    if affix == "suffix":
        return f"concat({name}, {sql_str(sep)}, {type_})"
    return name


def natural_sort_key(c: Column) -> Column:
    """Natural-order sort key: every digit run is encoded as
    ``<4-digit zero-padded length><digits, leading zeros stripped>``, so
    lexicographic order on the key equals numeric order (``id2`` < ``id10``)
    for runs of ANY length — a fixed-width zero-pad would silently truncate
    runs longer than the pad and misorder them. Matches the reference's
    natsort-based ``--sort`` (/root/reference/src/ontoweaver/ontoweave.py:405-412)
    as a pure Column expression — the sort stays a normal Spark range-
    partitioned sort on a derived key, no Python comparator. (Runs beyond
    9999 digits would overflow the length prefix; no identifier is a
    10^4-digit number.)"""
    marked = F.regexp_replace(c, r"(\d+)", "\x00$1\x00")
    parts = F.split(marked, "\x00")

    def encode(p: Column) -> Column:
        n = F.regexp_replace(p, r"^0+(?=[0-9])", "")
        return F.concat(F.lpad(F.length(n).cast("string"), 4, "0"), n)

    return F.concat_ws(
        "",
        F.transform(
            parts,
            lambda p: F.when(p.rlike("^[0-9]+$"), encode(p)).otherwise(p),
        ),
    )
