"""Null/empty-cell semantics.

Replicates the reference predicate ``base.is_not_null``
(/root/reference/src/ontoweaver/base.py:25-44): a cell is *invalid* when it
is SQL NULL, the empty string, the string ``"nan"`` case-insensitively, or
the literal string ``"None"``. All cells in the engine's domain are strings
(the reference loads every table with ``dtype=str``,
/root/reference/src/ontoweaver/loader.py:173-216), so one string predicate
covers every case. The compiler's projection is SQL text, so the predicate
has a SQL rendering too; both must agree on every cell (tested).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def is_not_null(col: Column) -> Column:
    """Boolean Column: True when the (string) cell holds a usable value."""
    return (
        col.isNotNull()
        & (col != F.lit(""))
        & (F.lower(col) != F.lit("nan"))
        & (col != F.lit("None"))
    )


def is_not_null_sql(x: str) -> str:
    """SQL rendering of :func:`is_not_null` over the SQL expression ``x``."""
    return f"({x} IS NOT NULL AND {x} != '' AND lower({x}) != 'nan' AND {x} != 'None')"
