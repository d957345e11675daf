"""The shared edge-input normalizers of ``graphstats``: exact row sets on a
graph with duplicate edges, reversed duplicates and self-loops."""

import pytest
from pyspark.sql import functions as F

from ontoweaver_spark import graphstats as gs

_EDGES = [
    ("a", "b"), ("a", "b"), ("b", "a"),  # duplicate and reversed duplicate
    ("b", "c"), ("c", "d"), ("d", "c"), ("e", "d"),
    ("c", "c"), ("a", "a"),  # self-loops
]
_PAIRS = {("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c"), ("e", "d")}
_REVERSED = {(d, s) for s, d in _PAIRS}
_LOOPS = {("a", "a"), ("c", "c")}


@pytest.fixture(scope="module")
def g(spark):
    return spark.createDataFrame(_EDGES, "x string, y string")


def _rows(df):
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == len(set(rows)), "normalized lists hold each row once"
    return set(rows)


@pytest.mark.parametrize(
    "symmetric,loops,expected",
    [
        (False, True, _PAIRS | _LOOPS),
        (False, False, _PAIRS),
        (True, True, _PAIRS | _REVERSED | _LOOPS),
        (True, False, _PAIRS | _REVERSED),
    ],
)
def test_directed(g, symmetric, loops, expected):
    e = gs._directed(g, "x", "y", symmetric=symmetric, loops=loops)
    assert e.columns == ["s", "d"]
    assert _rows(e) == expected


def test_undirected_is_canonical(g):
    und = gs._undirected(g, "x", "y")
    assert und.columns == ["u", "v"]
    assert _rows(und) == {("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")}


def test_mirrored_equals_union_then_distinct(g):
    mirrored = _rows(gs._mirrored(gs._undirected(g, "x", "y")))
    # the construction label_propagation, maximal_independent_set,
    # greedy_coloring, neighbor_jaccard and wl_colors used to hand-roll
    former = (
        g.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(g.select(F.col("y").alias("a"), F.col("x").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    assert mirrored == _rows(former) == _PAIRS | _REVERSED
    assert mirrored == _rows(gs._directed(g, "x", "y", symmetric=True, loops=False))


def test_nodes_and_degrees(g):
    assert _rows(gs._nodes(gs._directed(g, "x", "y"), "s", "d")) == {
        ("a",), ("b",), ("c",), ("d",), ("e",)
    }
    assert _rows(gs._nodes(gs._directed(g, "x", "y", loops=False), "s")) == {
        ("a",), ("b",), ("c",), ("d",), ("e",)
    }
    deg = gs._degrees(gs._undirected(g, "x", "y"), "k")
    assert deg.columns == ["node", "k"]
    assert _rows(deg) == {("a", 1), ("b", 2), ("c", 2), ("d", 2), ("e", 1)}


def test_pin_and_cast(spark):
    ints = spark.createDataFrame([(2, 1), (1, 2), (3, 3)], "x long, y long")
    seen = []
    und = gs._undirected(ints, "x", "y", cast="string", pin=lambda d: seen.append(d) or d)
    assert len(seen) == 1 and dict(und.dtypes) == {"u": "string", "v": "string"}
    assert _rows(und) == {("1", "2")}
    assert _rows(gs._directed(ints, "x", "y", pin=None)) == {(2, 1), (1, 2), (3, 3)}


def test_triangles_of_k4_once_each(spark):
    k4 = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("d", "c")],
        "src string, dst string",
    )
    # equal degrees: every edge orients toward the larger id
    assert _rows(gs._triangles(gs._undirected(k4))) == {
        ("a", "b", "c"), ("a", "b", "d"), ("a", "c", "d"), ("b", "c", "d")
    }
