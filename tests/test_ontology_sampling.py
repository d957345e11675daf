"""Ontology closure/automap and deterministic sampling operators."""

import pytest
from pyspark.sql import functions as F

from ontoweaver_spark.ontology import (
    automap_to_targets,
    subclass_closure,
    subclass_edges_from_triples,
)
from ontoweaver_spark.sampling import hash_split, stratified_sample
from ontoweaver_spark.textops import top_tokens


def test_subclass_closure_chain_and_dag(spark):
    # chain a->b->c->d plus a DAG edge a->x (two parents for a)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "x")],
        "child string, parent string",
    )
    got = {
        (r["descendant"], r["ancestor"]): r["depth"]
        for r in subclass_closure(edges).collect()
    }
    assert got == {
        ("a", "b"): 1, ("a", "c"): 2, ("a", "d"): 3, ("a", "x"): 1,
        ("b", "c"): 1, ("b", "d"): 2,
        ("c", "d"): 1,
    }


def test_subclass_closure_min_depth_on_shortcut(spark):
    # two paths a->...->z: length 3 and a direct shortcut; min depth wins
    edges = spark.createDataFrame(
        [("a", "m"), ("m", "n"), ("n", "z"), ("a", "z")],
        "child string, parent string",
    )
    got = {
        (r["descendant"], r["ancestor"]): r["depth"]
        for r in subclass_closure(edges).collect()
    }
    assert got[("a", "z")] == 1  # shortcut, not the length-3 path


def test_subclass_closure_deep_chain_log_rounds(spark):
    # depth-40 chain must close within the doubling budget (2^12 >> 40)
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(40)],
        "child string, parent string",
    )
    closure = subclass_closure(edges)
    assert closure.count() == 40 * 41 // 2
    top = closure.where(
        (F.col("descendant") == "n0") & (F.col("ancestor") == "n40")
    ).first()
    assert top["depth"] == 40


def test_subclass_edges_from_triples(spark):
    triples = spark.createDataFrame(
        [
            ("Dog", "http://www.w3.org/2000/01/rdf-schema#subClassOf", "Mammal", "uri"),
            ("Mammal", "http://www.w3.org/2000/01/rdf-schema#subClassOf", "Animal", "uri"),
            ("Dog", "http://example.org/label", "dog", "literal"),
        ],
        "subject string, predicate string, object string, object_kind string",
    )
    edges = subclass_edges_from_triples(triples)
    assert {(r["child"], r["parent"]) for r in edges.collect()} == {
        ("Dog", "Mammal"), ("Mammal", "Animal"),
    }


def test_automap_nearest_target_and_null(spark):
    # hierarchy: dog->mammal->animal, rock (no ancestors)
    edges = spark.createDataFrame(
        [("dog", "mammal"), ("mammal", "animal")],
        "child string, parent string",
    )
    closure = subclass_closure(edges)
    labeled = spark.createDataFrame(
        [(1, "dog"), (2, "mammal"), (3, "rock")], "id long, label string"
    )
    targets = spark.createDataFrame([("mammal",), ("animal",)], "target string")
    rows = {
        r["id"]: (r["nearest_type"], r["type_dist"])
        for r in automap_to_targets(labeled, closure, targets).collect()
    }
    assert rows[1] == ("mammal", 1)   # nearest, not animal at depth 2
    assert rows[2] == ("mammal", 0)   # a target maps to itself
    assert rows[3] == (None, None)    # no target ancestor


def test_automap_dag_tie_breaks_by_name(spark):
    # child has TWO depth-1 target parents: deterministic name tie-break
    edges = spark.createDataFrame(
        [("c", "pb"), ("c", "pa")], "child string, parent string"
    )
    closure = subclass_closure(edges)
    labeled = spark.createDataFrame([(1, "c")], "id long, label string")
    targets = spark.createDataFrame([("pa",), ("pb",)], "target string")
    row = automap_to_targets(labeled, closure, targets).first()
    assert (row["nearest_type"], row["type_dist"]) == ("pa", 1)


def test_stratified_sample_deterministic_and_partition_invariant(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(3000)],
        "doc_id long, lang string",
    )
    kept1 = {
        r["doc_id"]
        for r in stratified_sample(
            df, "lang", {"en": 0.2}, "doc_id", seed=7
        ).collect()
    }
    kept2 = {
        r["doc_id"]
        for r in stratified_sample(
            df.repartition(13), "lang", {"en": 0.2}, "doc_id", seed=7
        ).collect()
    }
    assert kept1 == kept2  # same rows regardless of partitioning
    en_total = 2000
    en_kept = sum(1 for i in kept1 if i % 3)
    assert 0.15 * en_total < en_kept < 0.25 * en_total  # ~20%
    assert sum(1 for i in kept1 if i % 3 == 0) == 1000  # default keeps all


def test_hash_split_leakage_safe(spark):
    # duplicate keys must land on the same side
    df = spark.createDataFrame(
        [(i % 500, i) for i in range(2000)], "doc_id long, row long"
    )
    sides = (
        hash_split(df, "doc_id", eval_fraction=0.2, seed=3)
        .groupBy("doc_id")
        .agg(F.countDistinct("split").alias("n"))
    )
    assert sides.where(F.col("n") > 1).count() == 0
    n_eval = (
        hash_split(df.select("doc_id").distinct(), "doc_id", 0.2, seed=3)
        .where(F.col("split") == "eval")
        .count()
    )
    assert 50 < n_eval < 150  # ~100 of 500


def test_top_tokens_ranking_and_ties(spark):
    df = spark.createDataFrame(
        [
            ("en", "zz aa zz bb aa zz"),
            ("en", "bb cc"),
            ("fr", "oui oui non"),
        ],
        "lang string, text string",
    )
    rows = top_tokens(df, "text", "lang", k=2).collect()
    got = {(r["stratum"], r["rank"]): (r["token"], r["cnt"]) for r in rows}
    assert got[("en", 1)] == ("zz", 3)
    # aa and bb both have cnt=2 -> tie broken by token name
    assert got[("en", 2)] == ("aa", 2)
    assert got[("fr", 1)] == ("oui", 2)
    assert got[("fr", 2)] == ("non", 1)


def test_repetition_signals(spark):
    from ontoweaver_spark.textops import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),        # 3 bigrams, all "spam spam"
            (2, "all words are different ok"), # 4 distinct bigrams
            (3, "one"),                        # <2 tokens -> dropped
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_bigrams"] == 3
    assert rows[1]["top_bigram_frac"] == 1.0
    assert rows[1]["dup_token_frac"] == 0.75   # 4 tokens, 1 distinct
    assert rows[2]["n_bigrams"] == 4
    assert rows[2]["top_bigram_frac"] == 0.25
    assert rows[2]["dup_token_frac"] == 0.0


def test_degree_stats_and_top_hubs(spark):
    from ontoweaver_spark.graphstats import degree_histogram, degree_stats, top_hubs

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")],
        "src string, dst string",
    )
    stats = {r["node"]: (r["out_deg"], r["in_deg"], r["degree"])
             for r in degree_stats(edges).collect()}
    assert stats["hub"] == (1, 3, 4)
    assert stats["a"] == (1, 1, 2)
    assert stats["b"] == (1, 0, 1)
    hubs = top_hubs(edges, k=2).collect()
    assert [(r["node"], r["rank"]) for r in hubs] == [("hub", 1), ("a", 2)]
    hist = {r["degree"]: r["n_nodes"] for r in degree_histogram(edges).collect()}
    assert hist == {4: 1, 2: 1, 1: 2}


def test_pagerank_fixed_point_hand_computed(spark):
    """Integer PageRank against hand-computed fixed-point values (A<->B
    cycle plus C->A, scale=1000, damping 85%, teleport 150):
    iter1: A = 150 + 85*2000//100 = 1850, B = 1000, C = 150
    iter2: A = 150 + 85*(1000+150)//100 = 1127, B = 150 + 85*1850//100
           = 1722, C = 150."""
    from ontoweaver_spark.graphstats import pagerank_fixed_point

    edges = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("C", "A")], "src string, dst string"
    )
    r1 = {r["node"]: r["rank"] for r in
          pagerank_fixed_point(edges, iterations=1, scale=1000).collect()}
    assert r1 == {"A": 1850, "B": 1000, "C": 150}
    r2 = {r["node"]: r["rank"] for r in
          pagerank_fixed_point(edges, iterations=2, scale=1000).collect()}
    assert r2 == {"A": 1127, "B": 1722, "C": 150}
    # rank is conserved up to truncation: total <= n * scale, and the
    # dangling node C decays to pure teleport
    assert sum(r2.values()) <= 3 * 1000
    # duplicate edges must not double-contribute (distinct edge set)
    dup = edges.unionAll(edges)
    r2dup = {r["node"]: r["rank"] for r in
             pagerank_fixed_point(dup, iterations=2, scale=1000).collect()}
    assert r2dup == r2


def test_corpus_stats_exact_and_approx(spark):
    """corpus_stats: hand-checkable exact percentiles; the exact=False
    t-digest path (the 10^12-doc memory-bounded variant, not
    oracle-coverable) must agree on the exact-integer columns and stay
    close on percentiles."""
    from ontoweaver_spark.textops import corpus_stats

    rows = [(i, "en", " ".join(["w"] * n)) for i, n in enumerate([10, 20, 30, 40])]
    rows += [(100, "de", "a b c")]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")

    exact = {r["stratum"]: r for r in corpus_stats(df).collect()}
    en = exact["en"]
    assert (en["n_docs"], en["total_tokens"], en["mean_tokens"]) == (4, 100, 25.0)
    # interpolated percentiles over [10,20,30,40]
    assert en["p50_tokens"] == 25.0
    assert en["p90_tokens"] == 37.0   # 10 + 0.9*3 intervals -> 30 + 0.7*10
    assert exact["de"]["n_docs"] == 1 and exact["de"]["p50_tokens"] == 3.0

    approx = {r["stratum"]: r for r in corpus_stats(df, exact=False).collect()}
    for s in exact:
        assert approx[s]["n_docs"] == exact[s]["n_docs"]
        assert approx[s]["total_tokens"] == exact[s]["total_tokens"]
        # t-digest on tiny data returns an actual value from the set
        assert abs(approx[s]["p50_tokens"] - exact[s]["p50_tokens"]) <= 10



def test_corpus_stats_null_text_matches_duckdb(spark):
    """A NULL text counts as a document but carries no token count: Spark's
    ``size`` of the NULL split is -1, which used to enter the sum and the
    order statistics. Both paths must agree with DuckDB, which skips NULLs
    in ``sum``, ``avg`` and ``quantile_cont``."""
    import duckdb

    from ontoweaver_spark.textops import corpus_stats

    texts = ["a", "a b", "a b c", None, "a b c d e f g"]
    rows = [(i, "en", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    want = duckdb.sql(r"""
        SELECT count(*), sum(n), avg(n), quantile_cont(n, 0.5) FROM (
          SELECT len(regexp_split_to_array(trim(t), '\s+')) AS n
          FROM (VALUES ('a'), ('a b'), ('a b c'), (NULL), ('a b c d e f g')) v(t))
    """).fetchone()
    assert want == (5, 13, 3.25, 2.5)

    exact = corpus_stats(df).collect()[0]
    assert (exact["n_docs"], exact["total_tokens"], exact["mean_tokens"],
            exact["p50_tokens"]) == want
    assert exact["p90_tokens"] == 5.8  # 3 + 0.7 * (7 - 3) over [1, 2, 3, 7]
    approx = corpus_stats(df, exact=False).collect()[0]
    assert (approx["n_docs"], approx["total_tokens"], approx["mean_tokens"]) == want[:3]
    assert approx["p50_tokens"] in (2.0, 3.0)  # a value of [1, 2, 3, 7]

def test_pagerank_partition_invariance(spark):
    """The fixed-point claim in full: ranks are BIT-identical regardless
    of input partitioning (integer sums are exact and commutative — the
    property a float PageRank cannot make)."""
    from ontoweaver_spark.graphstats import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(120)],
        "src string, dst string",
    )
    base = {(r["node"], r["rank"]) for r in
            pagerank_fixed_point(edges, iterations=4).collect()}
    for parts in (1, 7, 32):
        got = {(r["node"], r["rank"]) for r in
               pagerank_fixed_point(edges.repartition(parts), iterations=4).collect()}
        assert got == base, parts


def test_k_hop_neighborhood(spark):
    """Hand-built path graph: hops are MIN distances, early exit on an
    exhausted frontier, directed mode follows edge direction only."""
    from ontoweaver_spark.graphstats import k_hop_neighborhood

    # a -> b -> c -> d, plus e isolated-ish (d -> e)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("c",)], "node string")

    und = {(r["node"], r["hop"]) for r in
           k_hop_neighborhood(edges, seeds, k=2).collect()}
    assert und == {("c", 0), ("b", 1), ("d", 1), ("a", 2), ("e", 2)}

    direct = {(r["node"], r["hop"]) for r in
              k_hop_neighborhood(edges, seeds, k=2, directed=True).collect()}
    assert direct == {("c", 0), ("d", 1), ("e", 2)}

    # k larger than the graph: early exit, no phantom hops
    far = {(r["node"], r["hop"]) for r in
           k_hop_neighborhood(edges, seeds, k=10, directed=True).collect()}
    assert far == direct


def test_graph_diff(spark):
    from ontoweaver_spark.graphstats import graph_diff

    old = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "node string, degree bigint")
    new = spark.createDataFrame(
        [("b", 2), ("c", 9), ("d", 4)], "node string, degree bigint")
    got = {(r["node"], r["change"]) for r in
           graph_diff(old, new, ["node"], ["degree"]).collect()}
    # b unchanged -> omitted
    assert got == {("a", "removed"), ("c", "changed"), ("d", "added")}

    # null-safe compare: NULL == NULL is unchanged, NULL vs value is changed
    old2 = spark.createDataFrame([("a", None), ("b", None)], "node string, v string")
    new2 = spark.createDataFrame([("a", None), ("b", "x")], "node string, v string")
    got2 = {(r["node"], r["change"]) for r in
            graph_diff(old2, new2, ["node"], ["v"]).collect()}
    assert got2 == {("b", "changed")}

    # composite keys (edge identity) with no compare cols: pure add/remove
    oe = spark.createDataFrame([("a", "b", "r")], "src string, dst string, label string")
    ne = spark.createDataFrame([("a", "c", "r")], "src string, dst string, label string")
    got3 = {(r["src"], r["dst"], r["change"]) for r in
            graph_diff(oe, ne, ["src", "dst", "label"]).collect()}
    assert got3 == {("a", "b", "removed"), ("a", "c", "added")}
