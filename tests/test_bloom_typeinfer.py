"""Bloom frontier membership (urls.bloom_build/bloom_probe) and
neighbor-vote entity typing (linking.infer_types).

Bloom invariants: zero false negatives (structural, not statistical),
false-positive rate within ~3x of the analytic (1 - e^{-kn/m})^k bound,
word-table size bounded by m_bits/32, and partition invariance (the build
is a commutative bit_or aggregate).
"""

import math

import pyspark.sql.functions as F
import pytest

from ontoweaver_spark.urls import bloom_build, bloom_probe

M_BITS = 1 << 17
K = 3


def _urls(spark, lo, hi, path="p"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"https://h.com/{path}/"), F.col("id").cast("string")).alias("url")
    )


def test_bloom_no_false_negatives(spark):
    members = _urls(spark, 0, 3000)
    bloom = bloom_build(members, m_bits=M_BITS, k=K)
    res = bloom_probe(bloom, members, m_bits=M_BITS, k=K)
    assert res.where(~F.col("bloom_hit")).count() == 0
    assert res.count() == 3000


def test_bloom_fp_rate_within_bound(spark):
    n = 3000
    members = _urls(spark, 0, n)
    bloom = bloom_build(members, m_bits=M_BITS, k=K)
    novel = _urls(spark, 0, 5000, path="q")  # disjoint path => none are members
    fp = bloom_probe(bloom, novel, m_bits=M_BITS, k=K).where("bloom_hit").count()
    analytic = (1.0 - math.exp(-K * n / M_BITS)) ** K
    assert fp / 5000 <= max(3 * analytic, 0.01)


def test_bloom_word_table_bounded_and_partition_invariant(spark):
    members = _urls(spark, 0, 2000)
    b1 = bloom_build(members, m_bits=M_BITS, k=K)
    b2 = bloom_build(members.repartition(7), m_bits=M_BITS, k=K)
    assert b1.count() <= M_BITS // 32
    assert b1.exceptAll(b2).count() == 0 and b2.exceptAll(b1).count() == 0


# --------------------------------------------------------------------------
# infer_types
# --------------------------------------------------------------------------

from ontoweaver_spark.linking import infer_types


def _frames(spark, edges, seeds):
    e = spark.createDataFrame(edges, ["src", "dst"])
    s = spark.createDataFrame(seeds, ["node", "type"])
    return e, s


def test_typeinfer_majority_and_tiebreak(spark):
    # x's typed neighbors: a(T1), b(T1), c(T2) -> majority T1
    # y's typed neighbors: a(T1), c(T2) -> tie, min type T1
    edges = [("x", "a"), ("x", "b"), ("x", "c"), ("y", "a"), ("y", "c")]
    seeds = [("a", "T1"), ("b", "T1"), ("c", "T2")]
    e, s = _frames(spark, edges, seeds)
    got = {r["node"]: (r["type"], r["round"]) for r in infer_types(e, s, rounds=1).collect()}
    assert got["x"] == ("T1", 1)
    assert got["y"] == ("T1", 1)
    assert got["a"] == ("T1", 0) and got["c"] == ("T2", 0)


def test_typeinfer_parallel_edges_single_vote(spark):
    # x--a twice (parallel) must not outvote the two distinct T2 neighbors
    edges = [("x", "a"), ("x", "a"), ("a", "x"), ("x", "b"), ("x", "c")]
    seeds = [("a", "T9"), ("b", "T2"), ("c", "T2")]
    e, s = _frames(spark, edges, seeds)
    got = dict(infer_types(e, s, rounds=1).select("node", "type").collect())
    assert got["x"] == "T2"


def test_typeinfer_seeds_frozen_and_rounds_propagate(spark):
    # chain seed -> m1 -> m2: m1 types in round 1, m2 in round 2;
    # the seed keeps its type even though its only neighbor disagrees
    edges = [("seed", "m1"), ("m1", "m2")]
    seeds = [("seed", "TA")]
    e, s = _frames(spark, edges, seeds)
    got = {r["node"]: (r["type"], r["round"]) for r in infer_types(e, s, rounds=2).collect()}
    assert got == {"seed": ("TA", 0), "m1": ("TA", 1), "m2": ("TA", 2)}
    # rounds=1 leaves m2 untyped (absent)
    got1 = {r["node"] for r in infer_types(e, s, rounds=1).collect()}
    assert got1 == {"seed", "m1"}


# --------------------------------------------------------------------------
# repair_dangling_edges
# --------------------------------------------------------------------------

from ontoweaver_spark.validate import graph_integrity, repair_dangling_edges


def test_repair_dangling_closes_graph(spark):
    nodes = spark.createDataFrame(
        [("a", "person", 30), ("b", "person", 40)], ["id", "label", "age"]
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "ghost"), ("b", "ghost"), ("ghost2", "a")],
        ["src", "dst"],
    )
    assert not graph_integrity(nodes, edges)["ok"]
    repaired, placeholders = repair_dangling_edges(nodes, edges)
    ph = {r["id"]: r["n_refs"] for r in placeholders.collect()}
    assert ph == {"ghost": 2, "ghost2": 1}
    # placeholder rows pad the extra node columns with typed nulls
    assert repaired.columns == nodes.columns
    assert graph_integrity(repaired, edges)["ok"]


def test_repair_dangling_noop_on_closed_graph(spark):
    nodes = spark.createDataFrame([("a", "x"), ("b", "x")], ["id", "label"])
    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    repaired, placeholders = repair_dangling_edges(nodes, edges)
    assert placeholders.count() == 0
    assert repaired.count() == 2


# --------------------------------------------------------------------------
# edge_partition_plan
# --------------------------------------------------------------------------

from ontoweaver_spark.graphstats import edge_partition_plan


def test_edge_partition_skew_collapse(spark):
    # 10k edges, half from one hub: naive hash(src) puts ~50% of all
    # edges on one partition; the vertex-cut plan must spread them so
    # max/avg load drops below 2 (naive is ~8 at P=16).
    n, p = 10_000, 16
    e = spark.range(n).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'hub' ELSE concat('s', id) END AS src",
        "concat('t', id % 997) AS dst",
    )
    plan = edge_partition_plan(e, num_partitions=p, hub_threshold=100)
    rows = plan.collect()
    assert sum(r["n_edges"] for r in rows) == n  # every edge placed once
    loads = [r["n_edges"] for r in rows]
    assert len(rows) == p
    assert max(loads) / (n / p) < 2.0
    # hub edges really are the spread ones
    assert sum(r["n_hub_edges"] for r in rows) == n // 2


def test_edge_partition_no_hubs_is_pure_src_hash(spark):
    # below threshold nothing is vertex-cut: n_hub_edges == 0 everywhere
    e = spark.range(200).selectExpr(
        "concat('s', id % 50) AS src", "concat('t', id) AS dst"
    )
    plan = edge_partition_plan(e, num_partitions=8, hub_threshold=100)
    assert plan.agg({"n_hub_edges": "sum"}).collect()[0][0] == 0
    assert plan.agg({"n_edges": "sum"}).collect()[0][0] == 200


# --------------------------------------------------------------------------
# pattern_triples
# --------------------------------------------------------------------------

from ontoweaver_spark.pages import pattern_triples


def test_pattern_triples_multi_match_and_no_match(spark):
    df = spark.createDataFrame(
        [
            ("u1", "Ada works at Acme. Bob works at Initech."),
            ("u2", "nothing to extract here"),
            ("u3", "Acme is based in Paris."),
        ],
        ["url", "text"],
    )
    out = pattern_triples(
        df,
        [
            ("works_at", "([A-Z][a-zA-Z0-9]+) works at ([A-Z][a-zA-Z0-9]+)"),
            ("based_in", "([A-Z][a-zA-Z0-9]+) is based in ([A-Z][a-zA-Z0-9]+)"),
        ],
    )
    rows = {tuple(r) for r in out.collect()}
    assert rows == {
        ("u1", "Ada", "works_at", "Acme"),
        ("u1", "Bob", "works_at", "Initech"),
        ("u3", "Acme", "based_in", "Paris"),
    }


@pytest.mark.parametrize(
    "regex",
    [
        r"([A-Z]\w+) works at ([A-Z]\w+)(?=\.)",
        r"([A-Z]\w+) works at (?!Initech)([A-Z]\w+)",
        r"(?<=\. )([A-Z]\w+) works at ([A-Z]\w+)",
        r"(?<!Bob )([A-Z]\w+) works at ([A-Z]\w+)",
        r"([A-Z]\w+) works at ([A-Z]\w+) \1",
        r"([A-Z]\w+) works at ([A-Z]\w+)$",
        r"\b([A-Z]\w+) works at ([A-Z]\w+)",
        r"([A-Z]\w+) works at ([A-Z]\w+)\b",
        r"([A-Z]\w+)\B works at ([A-Z]\w+)",
    ],
)
def test_pattern_triples_rejects_context_dependent_regex(spark, regex):
    """Groups are re-read from the isolated match, so a pattern that looks
    outside it (lookaround, backreference, word boundary, $) is refused up
    front, naming the relation and the pattern."""
    df = spark.createDataFrame([("u1", "Ada works at Acme.")], ["url", "text"])
    with pytest.raises(ValueError, match="works_at") as err:
        pattern_triples(df, [("based_in", r"(\w+) is based in (\w+)"), ("works_at", regex)])
    assert repr(regex) in str(err.value)
    # escaped and bracketed $ are literals, not anchors
    assert pattern_triples(df, [("costs", r"(\w+) costs \$([\d$]+)")]).count() == 0
    # an escaped backslash before b is a literal, not a word boundary
    assert pattern_triples(df, [("path", r"(\w+)\\b(\w+)")]).count() == 0
