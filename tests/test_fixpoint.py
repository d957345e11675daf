"""session.fixpoint — the one round policy of every capped iterative loop.

Covers ``fixpoint`` itself (exact mode runs exactly r steps with no probe
job, the cap raises the caller's message, a long self-join loop keeps
Catalyst's size estimate flat) and, per converted operator, that output,
reported rounds and submitted Spark jobs match the figures pinned from
the hand-rolled loops ``fixpoint`` replaced.
"""

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from ontoweaver_spark import graphstats as gs
from ontoweaver_spark.dedup import connected_components
from ontoweaver_spark.ontology import rdfs_entailment, subclass_closure
from ontoweaver_spark.session import Converged, fixpoint
from ontoweaver_spark.urls import resolve_redirects
from tests.test_r4_ops import _digits

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"fixpoint-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _counter(spark):
    return spark.createDataFrame([(i, 0) for i in range(10)], "k long, x long")


def test_exact_mode_runs_r_steps_without_probe_job(spark):
    seen = []

    def bump(df, i):
        seen.append(i)
        return df.withColumn("x", F.col("x") + 1)

    stats = {}
    out, jobs = _jobs(spark, lambda: fixpoint(
        _counter(spark), bump, max_rounds=1, exact_rounds=3, probe="x",
        stats=stats, error="never raised in exact mode",
    ))
    assert seen == [1, 2, 3] and stats == {"rounds": 3}
    assert jobs == 0  # no probe, and the lazy checkpoints submit nothing
    assert {r["x"] for r in out.collect()} == {3}


def test_probe_stops_at_the_first_unchanged_round(spark):
    stats = {}
    out = fixpoint(
        _counter(spark), lambda df, _: df.withColumn("x", F.least(F.col("x") + 1, F.lit(4))),
        max_rounds=10, probe="x", stats=stats, error="cap",
    )
    # x reaches 4 in round 4; round 5 is the first that changes nothing
    assert stats == {"rounds": 5}
    assert {r["x"] for r in out.collect()} == {4}
    start = {}
    fixpoint(
        _counter(spark), lambda df, _: df, max_rounds=10, probe="x",
        probe_start=True, stats=start, error="cap",
    )
    assert start == {"rounds": 1}


def test_cap_raises_the_callers_message(spark):
    def grow(df, _):
        return df.withColumn("x", F.col("x") + 1)

    stats = {}
    with pytest.raises(RuntimeError, match="^op did not converge in 3 rounds$"):
        fixpoint(
            _counter(spark), grow, max_rounds=3, probe="x", stats=stats,
            error="op did not converge in 3 rounds",
        )
    assert stats == {"rounds": 3}
    # no error: the cap is a budget and the last state comes back
    out = fixpoint(_counter(spark), grow, max_rounds=3, probe="x", error=None)
    assert {r["x"] for r in out.collect()} == {3}
    # a last state that `done` accepts is returned instead of raising
    assert fixpoint(1, lambda n, _: n + 1, max_rounds=3, error="x", done=lambda n: n == 4) == 4
    with pytest.raises(RuntimeError, match="x"):
        fixpoint(1, lambda n, _: n + 1, max_rounds=3, error="x", done=lambda n: n == 5)


def test_converged_step_stops_the_loop():
    stats = {}
    out = fixpoint(
        0, lambda n, i: Converged(n) if n == 2 else n + 1,
        max_rounds=10, error="cap", stats=stats,
    )
    assert out == 2 and stats == {"rounds": 3}


def test_long_self_join_loop_keeps_size_estimate_flat(spark):
    """25 self-join rounds through ``fixpoint``: every round's state passes
    stats_reset_checkpoint, so sizeInBytes stays at the leaf default
    instead of doubling its digit count per round."""

    def self_join(df, _):
        return df.alias("l").join(df.alias("r"), F.col("l.k") == F.col("r.k")).select(
            F.col("l.k").alias("k"), F.col("r.x").alias("x")
        )

    out = fixpoint(
        _counter(spark), self_join, max_rounds=25, exact_rounds=25, probe="x", error=None
    )
    assert _digits(out) <= 20
    assert out.count() == 10


# two K4s joined through a path and a triangle; integer weights and
# timestamps for the weighted / temporal operators
_EDGES = [
    ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
    ("d", "e"), ("e", "f"), ("f", "g"), ("g", "h"),
    ("h", "i"), ("h", "j"), ("i", "j"), ("j", "k"),
    ("k", "l"), ("k", "m"), ("k", "n"), ("l", "m"), ("l", "n"), ("m", "n"),
]


def _graph(spark):
    rows = [
        (s, d, (ord(s) * 7 + ord(d)) % 5 + 1, i % 6)
        for i, (s, d) in enumerate(_EDGES)
    ]
    return spark.createDataFrame(rows, "src string, dst string, weight long, t long")


def _hierarchy(spark):
    return _graph(spark).select(F.col("src").alias("child"), F.col("dst").alias("parent"))


def _seeds(spark, *nodes):
    return spark.createDataFrame([(n, 0) for n in nodes], "node string, start long")


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subject string, predicate string, object string")


def _entail(spark, schema, edges, chains=None):
    ch = None
    if chains is not None:
        ch = spark.createDataFrame(chains, "first string, second string, implies string")
    ec, tc = rdfs_entailment(
        _triples(spark, schema), _triples(spark, edges),
        spark.createDataFrame([], "node string, cls string"), chains=ch,
    )
    return ec.crossJoin(tc.agg(F.count("*").alias("n_types")))


def _case(name, fn, jobs, digest, rounds=None):
    return pytest.param(fn, jobs, digest, rounds, id=name)


_TRANSITIVE = "http://www.w3.org/2002/07/owl#TransitiveProperty"
_SYMMETRIC = "http://www.w3.org/2002/07/owl#SymmetricProperty"
_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_SUBPROP = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"

# (operator call, job count, output digest, stats["rounds"]) per operator
# and mode, the figures measured at the hand-rolled loops fixpoint
# replaced, on a local[4] session with 4 shuffle partitions. Job counts of
# operators whose emptiness tests scan partitions lazily (coloring, MSF,
# truss numbers, entailment) vary by one or two between runs; the pin is
# the largest of seven runs. The pins of core_numbers and
# connected_components are the lower counts since their one-partition loop
# state plans no exchange under an aggregate and the probe became an
# observation. Each call takes (spark, stats) and returns the operator's
# output frame.
CASES = [
    _case("k_core", lambda s, st: gs.k_core(_graph(s), k=3), 21, "e54a7e97dd11"),
    _case(
        "k_core_exact",
        lambda s, st: gs.k_core(_graph(s), k=3, exact_rounds=2), 9, "e54a7e97dd11",
    ),
    _case(
        "shortest_paths",
        lambda s, st: gs.shortest_paths(
            _graph(s), _seeds(s, "a"), weight_col="weight", directed=False, stats=st
        ),
        93, "4fb4b49d9b44", 9,
    ),
    _case(
        "shortest_paths_exact",
        lambda s, st: gs.shortest_paths(
            _graph(s), _seeds(s, "a"), weight_col="weight", rounds=3,
            directed=False, stats=st,
        ),
        15, "7b443694ca0a", 3,
    ),
    _case("k_truss", lambda s, st: gs.k_truss(_graph(s), k=4, stats=st), 29, "d6d077f9e413", 2),
    _case(
        "k_truss_exact",
        lambda s, st: gs.k_truss(_graph(s), k=4, exact_rounds=1, stats=st), 17, "d6d077f9e413", 1,
    ),
    _case("densest_subgraph", lambda s, st: gs.densest_subgraph(_graph(s)), 13, "e276b560333f"),
    _case(
        "densest_subgraph_exact",
        lambda s, st: gs.densest_subgraph(_graph(s), exact_rounds=1), 11, "d75171398898",
    ),
    _case(
        "maximal_independent_set",
        lambda s, st: gs.maximal_independent_set(_graph(s), rounds=12), 21, "c46644598742",
    ),
    _case(
        "greedy_coloring",
        lambda s, st: gs.greedy_coloring(_graph(s), rounds=16), 53, "7868718c2570",
    ),
    _case(
        "min_spanning_forest",
        lambda s, st: gs.min_spanning_forest(_graph(s)), 78, "92ec9b71fc6d",
    ),
    _case(
        "temporal_reachability",
        lambda s, st: gs.temporal_reachability(
            _graph(s), _seeds(s, "a"), rounds=12, exact_rounds=False
        ),
        17, "e2c56dca869d",
    ),
    _case(
        "temporal_reachability_exact",
        lambda s, st: gs.temporal_reachability(_graph(s), _seeds(s, "a"), rounds=3),
        18, "e2c56dca869d",
    ),
    _case("core_numbers", lambda s, st: gs.core_numbers(_graph(s)), 20, "c6775b74e2dd"),
    _case(
        "core_numbers_exact",
        lambda s, st: gs.core_numbers(_graph(s), exact_rounds=2), 20, "c6775b74e2dd",
    ),
    _case("maximal_matching", lambda s, st: gs.maximal_matching(_graph(s)), 21, "f56e5bbca649"),
    _case(
        "maximal_matching_exact",
        lambda s, st: gs.maximal_matching(_graph(s), exact_rounds=2), 18, "f56e5bbca649",
    ),
    _case("truss_numbers", lambda s, st: gs.truss_numbers(_graph(s)), 38, "a20c29216dae"),
    _case(
        "truss_numbers_exact",
        lambda s, st: gs.truss_numbers(_graph(s), exact_rounds=1), 25, "a20c29216dae",
    ),
    _case(
        "bootstrap_percolation",
        lambda s, st: gs.bootstrap_percolation(_graph(s), _seeds(s, "a", "b")),
        22, "65146a059138",
    ),
    _case(
        "bootstrap_percolation_exact",
        lambda s, st: gs.bootstrap_percolation(_graph(s), _seeds(s, "a", "b"), rounds=2),
        18, "65146a059138",
    ),
    _case(
        "connected_components",
        lambda s, st: connected_components(_graph(s), a_col="src", b_col="dst", stats=st),
        12, "cbdfdd7ec34e", 4,
    ),
    _case(
        "subclass_closure",
        lambda s, st: subclass_closure(_hierarchy(s)),
        44, "e3cb3a627352",
    ),
    _case(
        "subclass_closure_max",
        lambda s, st: subclass_closure(_hierarchy(s), depth_agg="max"),
        38, "f4b0bcfc9b96",
    ),
    _case(
        "rdfs_entailment_single_pass",
        lambda s, st: _entail(
            s,
            [("knows", _TYPE, _SYMMETRIC), ("partOf", _TYPE, _TRANSITIVE),
             ("partOf", _SUBPROP, "relatedTo")],
            [("a", "knows", "b"), ("x", "partOf", "y"), ("y", "partOf", "z")],
        ),
        82, "0853772e924d",
    ),
    _case(
        "rdfs_entailment_loop",
        lambda s, st: _entail(
            s, [("reach", _TYPE, _TRANSITIVE)],
            [(f"n{i}", "step", f"n{i + 1}") for i in range(6)],
            chains=[("step", "step", "reach")],
        ),
        126, "05eb63ffb2df",
    ),
    _case(
        "resolve_redirects",
        lambda s, st: resolve_redirects(
            s.createDataFrame(
                [("u1", "u2"), ("u2", "u3"), ("u3", "u4"), ("u4", "u5"),
                 ("u6", "u3"), ("u7", "u8")],
                "src string, dst string",
            )
        ),
        21, "57a9c9ac778c",
    ),
]


# The fixed-count link-analysis loops (no convergence test, so no rounds
# in stats): output digest and job count as measured at the hand-built edge
# lists the shared normalizers replaced, 5 of 5 runs equal; PageRank's pin
# is its count since its edge list and node set are pinned as one partition.
CASES += [
    _case("pagerank_fixed_point", lambda s, st: gs.pagerank_fixed_point(_graph(s)), 35, "b8eed30ce3e8"),
    _case(
        "personalized_pagerank",
        lambda s, st: gs.personalized_pagerank(_graph(s), _seeds(s, "a", "n")),
        38, "4026bdef285b",
    ),
    _case("hits_fixed_point", lambda s, st: gs.hits_fixed_point(_graph(s)), 70, "f68438545623"),
    _case("salsa_scores", lambda s, st: gs.salsa_scores(_graph(s)), 63, "0dd6ba8bbc2a"),
    _case("katz_fixed_point", lambda s, st: gs.katz_fixed_point(_graph(s)), 27, "faeb6b285e2b"),
    _case(
        "eigenvector_centrality", lambda s, st: gs.eigenvector_centrality(_graph(s)),
        49, "24a7cec008eb",
    ),
    _case("label_propagation", lambda s, st: gs.label_propagation(_graph(s)), 28, "9107338a8a10"),
]


def _run(spark, fn):
    """(output digest, stats["rounds"], Spark jobs) of one operator call,
    the collect of its output included."""
    st = {}
    rows, jobs = _jobs(spark, lambda: fn(spark, st).collect())
    digest = hashlib.md5(repr(sorted(map(tuple, rows))).encode()).hexdigest()[:12]
    return digest, st.get("rounds"), jobs


@pytest.mark.parametrize("fn,jobs,digest,rounds", CASES)
def test_operator_output_rounds_and_jobs(spark, fn, jobs, digest, rounds):
    got_digest, got_rounds, got_jobs = _run(spark, fn)
    assert got_digest == digest
    assert got_rounds == rounds
    assert got_jobs <= jobs
