"""Graph analytics over the materialized KG: degrees, hubs, and the
degree histogram that drives skew decisions.

These are the operational queries a KG pipeline runs between builds:
``suggest_salt`` (fusion.py) estimates hot keys from a SAMPLE before
fusing; these run on the fused output to verify the skew profile and
feed the next run's salt choice. All plain aggregations — one shuffle
keyed by node id, map-side partials absorb the explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, GroupedData, Window
from pyspark.sql import functions as F

from .textops import md5_int
from .session import Converged, checkpoint, fixpoint, stats_reset_checkpoint


# ---- edge-input normalization --------------------------------------------
# Every operator below starts from one of these frames instead of projecting,
# orienting, de-looping, de-duplicating and pinning its input by hand. Each
# takes ``pin``: the default lazy local checkpoint, ``stats_reset_checkpoint``
# (eager, for loops whose later rounds must not inherit compounded size
# estimates), another callable, or None for a plan the caller pins itself.


def _lazy_pin(df: DataFrame) -> DataFrame:
    return checkpoint(df, eager=False, reset_stats=False)


def _pinned(df: DataFrame, pin) -> DataFrame:
    return pin(df) if pin else df


def _ends(src_col: str, dst_col: str, cast: str | None):
    s, d = F.col(src_col), F.col(dst_col)
    return (s.cast(cast), d.cast(cast)) if cast else (s, d)


def _directed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    symmetric: bool = False,
    loops: bool = True,
    cast: str | None = None,
    pin=_lazy_pin,
) -> DataFrame:
    """The distinct directed edge list ``(s, d)``. ``symmetric`` adds every
    edge's reverse (an operator's ``directed=False``), ``loops=False``
    drops ``s == d``, ``cast`` casts both endpoints first."""
    s, d = _ends(src_col, dst_col, cast)
    e = edges.select(s.alias("s"), d.alias("d"))
    if symmetric:
        e = e.unionAll(edges.select(d.alias("s"), s.alias("d")))
    if not loops:
        e = e.where(F.col("s") != F.col("d"))
    return _pinned(e.distinct(), pin)


def _undirected(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    cast: str | None = None,
    pin=_lazy_pin,
) -> DataFrame:
    """The canonical simple undirected edge list ``(u, v)``: ``u < v``, no
    self-loops, each edge once whatever its input orientation."""
    s, d = _ends(src_col, dst_col, cast)
    e = (
        edges.select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return _pinned(e, pin)


def _mirrored(und: DataFrame, pin=_lazy_pin) -> DataFrame:
    """Both directions ``(u, v)`` of a canonical :func:`_undirected` list —
    the same rows as a symmetric loop-free :func:`_directed` list, with the
    distinct paid on half of them."""
    return _pinned(und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v"))), pin)


def _nodes(e: DataFrame, *cols: str, pin=None) -> DataFrame:
    """The distinct ``node`` values found in ``cols`` of an edge list."""
    nodes = e.select(F.col(cols[0]).alias("node"))
    for c in cols[1:]:
        nodes = nodes.unionAll(e.select(F.col(c).alias("node")))
    return _pinned(nodes.distinct(), pin)


def _degrees(und: DataFrame, name: str = "deg") -> DataFrame:
    """``(node, <name>)`` undirected degrees of a canonical ``(u, v)`` list."""
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select("v"))
        .groupBy("node")
        .agg(F.count("*").alias(name))
    )


def degree_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node (node, out_deg, in_deg, degree) over a directed edge list.

    One union + one aggregation: each endpoint contributes a (node,
    is_out) row; the groupBy sums both directions in a single shuffle
    instead of aggregating out- and in-degree separately and joining.
    """
    ends = edges.select(
        F.col(src_col).alias("node"), F.lit(1).alias("o"), F.lit(0).alias("i")
    ).unionAll(
        edges.select(F.col(dst_col).alias("node"), F.lit(0), F.lit(1))
    )
    return ends.groupBy("node").agg(
        F.sum("o").alias("out_deg"),
        F.sum("i").alias("in_deg"),
        F.count("*").alias("degree"),
    )


def top_hubs(
    edges: DataFrame, k: int = 20, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """The k highest-degree nodes (degree desc, node asc — deterministic).

    orderBy().limit(k) compiles to TakeOrderedAndProject — each partition
    keeps its local top-k and only k rows merge on the driver side. (A
    global row_number window here would instead drag all |V| rows into ONE
    partition; the rank is attached after the limit, over k rows.)"""
    top = (
        degree_stats(edges, src_col, dst_col)
        .orderBy(F.desc("degree"), F.asc("node"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("degree"), F.asc("node"))
    return top.withColumn("rank", F.row_number().over(w))


def degree_histogram(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(degree, n_nodes) — the distribution whose tail is the skew
    profile. Two aggregations, both map-side-combinable."""
    return (
        degree_stats(edges, src_col, dst_col)
        .groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
    )


def k_hop_neighborhood(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """All nodes within ``k`` hops of any seed -> ``(node, hop)`` with
    hop = MINIMUM distance (seeds at hop 0) — the subgraph-extraction
    primitive every KG consumer runs ("give me the 2-hop neighborhood of
    these entities"). ``seeds`` is a one-column (``node``) frame.

    Frontier BFS: the edge list materializes once (localCheckpoint, both
    directions unless ``directed``); each of the <= k rounds joins the
    CURRENT frontier (only the newly discovered nodes, not the whole
    visited set) against it, anti-joins the visited set, and stops early
    when the frontier empties. k bounded-size shuffles keyed on node id —
    never a full-graph traversal beyond the reachable set.
    """
    e = _directed(edges, src_col, dst_col, symmetric=not directed)

    frontier = seeds.select(F.col("node")).distinct().localCheckpoint(eager=False)
    visited = frontier.withColumn("hop", F.lit(0))
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .transform(stats_reset_checkpoint)  # eager: the empty-frontier early exit counts it anyway
        )
        if nxt.rdd.isEmpty():
            break
        visited = visited.unionByName(nxt.withColumn("hop", F.lit(hop))).transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        frontier = nxt
    return visited


def graph_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Set diff between two builds of a graph table -> key_cols +
    ``change`` in {'added', 'removed', 'changed'}; unchanged rows are
    omitted. 'changed' = key present in both sides with any
    ``compare_cols`` value differing (null-safe).

    The operational "what did this crawl change" query between two fused
    KG snapshots (complements fusion.merge_into_graph, which APPLIES a
    batch; this EXPLAINS one). One full-outer join keyed on the graph
    key — nodes diff on id, edges on (src, dst, label)."""
    compare_cols = list(compare_cols or [])
    o = old.select(
        *[F.col(c).alias(f"_ok_{c}") for c in key_cols],
        *[F.col(c).alias(f"_ov_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"_nk_{c}") for c in key_cols],
        *[F.col(c).alias(f"_nv_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for c in key_cols:
        eq = o[f"_ok_{c}"] == n[f"_nk_{c}"]
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"_ov_{c}").eqNullSafe(F.col(f"_nv_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"_ok_{c}"), F.col(f"_nk_{c}")).alias(c)
                for c in key_cols
            ],
            "change",
        )
    )


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    scale: int = 1_000_000,
    damping_pct: int = 85,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list ->
    ``(node, rank)`` with rank scaled by ``scale`` (rank=scale is the
    uniform start; damping 0.85 as ``damping_pct/100``).

    ALL arithmetic is integer (BIGINT): per-edge contribution is
    ``rank DIV out_degree``, the damped update is ``(100-d)*scale DIV 100
    + d*inbound DIV 100``. Integer addition is exact and commutative, so
    the result is bit-identical regardless of partitioning, aggregation
    order, or engine — a floating-point formulation would drift with
    shuffle order and could never hash-match a DuckDB oracle (the same
    reason train_centroids is property- rather than oracle-tested).
    Truncation loses < |V| * iterations rank mass — irrelevant for the
    ranking use and a price identical in every engine.

    Scale shape: the edge list (deduped (src,dst)) and out-degrees
    materialize ONCE (checkpointed — every iteration joins them);
    each of the ``iterations`` rounds is one broadcast-free join keyed on
    src + one map-side-combinable sum keyed on dst — the canonical
    iterative-graph plan. Dangling nodes (no out-edges) keep receiving
    the teleport term; their mass is not redistributed (the standard
    simplified formulation, stated here so the semantics are explicit).
    ``weight_col`` (optional, non-negative integers) makes it WEIGHTED
    PageRank — anchor-text counts, link multiplicity, or edge confidence
    as mass routing: parallel edges collapse to their weight SUM and each
    edge carries ``rank * w DIV total_out_weight``. ``weight_col=None``
    keeps the bit-exact unweighted semantics (and its oracle). Overflow
    bound for the weighted path: ``max_rank * max_w < 2^63`` — rank stays
    near ``scale`` except on extreme mass concentrators; scale the
    weights down if both are huge.
    """
    if weight_col is None:
        e = _directed(edges, src_col, dst_col)
        contrib = "rank DIV od"
    else:
        e = (
            edges.select(
                F.col(src_col).alias("s"), F.col(dst_col).alias("d"),
                F.col(weight_col).cast("long").alias("w"),
            )
            .groupBy("s", "d")
            .agg(F.sum("w").alias("w"))
            .transform(_lazy_pin)
        )
        contrib = "rank * w DIV od"
    outd = e.groupBy("s").agg(
        (F.count("*") if weight_col is None else F.sum("w")).alias("od")
    )
    # out-degrees are loop-invariant: attach them to the edge list ONCE
    # and checkpoint, instead of re-paying an edge-list-sized join every
    # iteration (the edge frame is the big side of the loop)
    e = e.join(outd, "s").transform(_lazy_pin)
    nodes = _nodes(e, "s", "d", pin=_lazy_pin)
    teleport = ((100 - damping_pct) * scale) // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iterations):
        contribs = (
            e.join(ranks.select(F.col("node").alias("s"), "rank"), "s")
            .select(F.col("d").alias("node"), F.expr(contrib).alias("c"))
        )
        inbound = contribs.groupBy("node").agg(F.sum("c").alias("inb"))
        ranks = (
            nodes.join(inbound, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(f"{damping_pct} * coalesce(inb, 0) DIV 100")
                ).cast("long").alias("rank"),
            )
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
    return ranks


def _triangles(e: DataFrame) -> DataFrame:
    """Every triangle of a canonical ``(u, v)`` list once, as ``(a, b, c)``
    with ``a`` its lowest-(degree, id) corner and ``b < c``: each edge is
    oriented from its lower-(degree, id) endpoint (a tie orients u -> v),
    wedges are a self-join on the low endpoint and close by one join back
    to ``e``. The oriented frame is pinned lazily so the wedge self-join
    reads it once."""
    deg = _degrees(e, "d")
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    lo_is_u = F.col("du") <= F.col("dv")
    oriented = ed.select(
        F.when(lo_is_u, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lo_is_u, F.col("v")).otherwise(F.col("u")).alias("hi"),
    ).localCheckpoint(eager=False)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2, (F.col("o1.lo") == F.col("o2.lo")) & (F.col("o1.hi") < F.col("o2.hi"))
    ).select(
        F.col("o1.lo").alias("a"), F.col("o1.hi").alias("b"), F.col("o2.hi").alias("c")
    )
    # b < c by the wedge condition, and e is canonical (u < v): close directly
    return wedges.join(
        e, (F.col("b") == F.col("u")) & (F.col("c") == F.col("v")), "inner"
    ).select("a", "b", "c")


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle participation over the undirected simple graph —
    ``(node, triangles)`` for every node in at least one triangle. The
    community/clustering signal a web-KG pipeline computes on co-citation
    and entity graphs (the reference has no graph analytics at all; its
    output graph goes to Neo4j for this).

    Scale shape — degree-ordered wedge enumeration (the MapReduce-classic
    Cohen / Suri-Vassilvitskii formulation): every undirected edge is
    oriented from its lower-(degree, id) endpoint to the higher, which
    bounds every out-adjacency list by O(sqrt(m)); wedges are enumerated by
    a self-join on the low endpoint and closed by one semi-join back to
    the edge set. Each triangle is found exactly once (from its lowest-rank
    apex), so no post-hoc dedup. Three shuffles total (degree agg, wedge
    join, closing join); the oriented frame is lazily localCheckpoint-ed
    so the wedge self-join doesn't recompute the degree join twice. A hub
    node never explodes: its edges are all oriented INTO it unless the
    neighbor is an even bigger hub.
    """
    return _corner_counts(_undirected(edges, src_col, dst_col))


def _corner_counts(e: DataFrame) -> DataFrame:
    """``(node, triangles)`` of a canonical ``(u, v)`` list."""
    tri = _triangles(e)
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select("b"))
        .unionAll(tri.select("c"))
    )
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    exact_rounds: int | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """k-core decomposition of the undirected simple graph: iteratively
    peel nodes of degree < k until fixpoint -> ``(node, deg)`` for the
    surviving core (the dense backbone of the web KG — spam-farm /
    community-scale filtering that degree thresholds alone can't do,
    since peeling cascades).

    ``exact_rounds=r`` runs EXACTLY r peel rounds with no convergence
    check — the mode the DuckDB oracle mirrors by unrolling r CTE rounds,
    making an iterative graph algorithm hash-checkable without a
    fixpoint-detection side channel. Default (None) peels to fixpoint
    with a loud RuntimeError past ``max_rounds`` (a path graph peels one
    node per end per round, so pathological chains hit the bound —
    same contract as connected_components).

    Scale shape: each round is one degree aggregation plus two anti-joins
    removing edges with a peeled endpoint; the shrinking edge frame is
    lazily localCheckpoint-ed every round (O(1) plan depth, no lineage
    blowup). The fixpoint check piggybacks on a count of the peeled
    frame — cheap and shrinking. Rounds needed = core number spread, in
    practice a handful on web graphs.
    """
    e = _undirected(edges, src_col, dst_col)

    def peel(e, _):
        bad = _degrees(e).where(F.col("deg") < k).select("node")
        if exact_rounds is None:
            bad = bad.transform(stats_reset_checkpoint)  # eager: counted AND reused by the joins
            if bad.count() == 0:
                return Converged(e)
        return (
            e.join(bad.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(bad.withColumnRenamed("node", "v"), "v", "left_anti")
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )

    e = fixpoint(
        e, peel, max_rounds=max_rounds, exact_rounds=exact_rounds,
        error=f"k_core did not converge in {max_rounds} rounds; the graph "
        "has a long peel cascade — raise max_rounds",
    )
    return _degrees(e)


def label_propagation(
    edges: DataFrame,
    rounds: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection over the
    undirected simple graph -> ``(node, community)`` after exactly
    ``rounds`` update steps. Each step, every node adopts the most
    frequent label among its NEIGHBORS (ties -> smallest label). Every
    node starts as its own community; nodes with no edges (after
    self-loop removal) have no neighbors to vote and are absent from the
    output — union them back as their own singleton community if needed.

    Fixed synchronous rounds on purpose: asynchronous LPA is
    run-order-dependent (useless under a shuffle), while the synchronous
    variant with a total tie-break is a pure function of the graph — the
    same determinism argument as pagerank_fixed_point, which is what lets
    an ITERATIVE community algorithm hash-match a DuckDB oracle (the same
    rounds unrolled as CTEs). Synchronous LPA can two-cycle on bipartite
    structure instead of converging; a fixed round budget makes that a
    defined output rather than a hang (GraphFrames' LPA ships the same
    trade).

    Scale shape (10^12-edge KG): the symmetrized edge list materializes
    once (localCheckpoint); each round is one join keyed on the neighbor
    + one (node, label) count agg (map-side partial absorbs the fan-in)
    + one min_by agg keyed on node. Hub fan-in lands in the count agg as
    its key's partials — never as a row explosion on one task. Labels
    travel as the node ids they start from; no Python anywhere.
    """
    e = _directed(edges, src_col, dst_col, symmetric=True, loops=False)
    nodes = _nodes(e, "s", pin=_lazy_pin)
    labels = nodes.select("node", F.col("node").alias("community"))
    for _ in range(rounds):
        neigh = e.join(
            labels.select(F.col("node").alias("d"), "community"), "d"
        ).select(F.col("s").alias("node"), "community")
        counts = neigh.groupBy("node", "community").agg(F.count("*").alias("cnt"))
        labels = (
            counts.groupBy("node")
            .agg(
                F.min_by(
                    "community",
                    F.struct((-F.col("cnt")).alias("nc"), F.col("community")),
                ).alias("community")
            )
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
    return labels


def random_walks(
    edges: DataFrame,
    walk_length: int = 3,
    walks_per_node: int = 1,
    seed: int = 0,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Deterministic uniform random walks over the graph -> one row per
    visited position ``(walk_id, step, node)`` (step 0 = the start node;
    ``walk_id = node || '#' || w``). This is the DeepWalk/node2vec(p=q=1)
    corpus generator — the sentence stream a skip-gram embedding trains
    on — for every node with at least one (out-)edge.

    The neighbor choice is HASH-MIN selection: step ``i`` of a walk
    standing on ``cur`` moves to ``argmin over out-neighbors d of
    md5_int(walk_id ':' seed ':' i ':' d)`` (ties — i.e. 60-bit hash
    collisions — broken by d itself via a string-composite order key).
    The min of i.i.d. uniform hashes is a uniform choice among the
    neighbors, so the walk IS a uniform random walk, yet it is a pure
    function of (graph, seed): bit-identical under any partitioning or
    engine, which is what lets a *randomized* algorithm hash-match a
    DuckDB oracle (same steps unrolled as arg_min CTEs). Walks that
    reach a sink simply end early (shorter sentences, as in DeepWalk).

    Scale shape (10^12-edge KG): NO per-node adjacency arrays are ever
    built (a 10^9-degree hub as an array blows a task; here its edges
    stay rows). Each of the ``walk_length`` rounds is one join of the
    walk frontier against the checkpointed edge list keyed on the
    current node + one min_by agg keyed on walk_id — a walk standing on
    a hub fans its candidate edges into MAP-SIDE partials of the argmin,
    never into a row flood at one reducer. Plan depth stays O(1) per
    round via lazy localCheckpoint.
    """
    e = _directed(edges, src_col, dst_col, symmetric=not directed, loops=False)

    starts = (
        _nodes(e, "s")
        .crossJoin(
            F.broadcast(
                e.sparkSession.range(walks_per_node).select(
                    F.col("id").cast("string").alias("_w")
                )
            )
        )
        .select(
            F.concat(F.col("node"), F.lit("#"), F.col("_w")).alias("walk_id"),
            "node",
        )
        .localCheckpoint(eager=False)
    )
    walks = starts.withColumn("step", F.lit(0))
    frontier = starts
    for step in range(1, walk_length + 1):
        h = md5_int(
            F.concat(F.col("walk_id"), F.lit(f":{seed}:{step}:"), F.col("d"))
        )
        order_key = F.concat(F.lpad(h.cast("string"), 20, "0"), F.col("d"))
        frontier = (
            frontier.join(e, frontier["node"] == e["s"])
            .groupBy("walk_id")
            .agg(F.min_by(F.col("d"), order_key).alias("node"))
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
        walks = walks.unionByName(frontier.withColumn("step", F.lit(step)))
    return walks.select("walk_id", "step", "node")


def link_prediction_scores(
    edges: DataFrame,
    max_degree: int = 64,
    min_common: int = 1,
    scale: int = 1_000_000,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Common-neighbor link prediction over the undirected simple graph:
    for every NON-edge pair (a < b) sharing at least ``min_common``
    neighbors, ``(a, b, common, ra_score)`` — ``common`` is the raw
    common-neighbor count and ``ra_score`` the Resource-Allocation index
    ``sum over shared z of 1/deg(z)`` in exact integer arithmetic
    (``scale DIV deg(z)`` per term, so the score is bit-identical in any
    engine — the float formulation, like Adamic-Adar's 1/log deg, never
    hash-matches an oracle). The KG-completion primitive: candidate
    missing edges ranked by shared structure.

    Nodes with degree > ``max_degree`` do NOT serve as the shared
    neighbor ``z``: a hub adjacent to everyone generates deg² candidate
    pairs while carrying ~zero signal (its RA term is ~1/deg). That cap
    is the same move as the stop-shingle document-frequency cap in
    dedup_jaccard — it bounds the wedge join at ``sum(min(deg,cap)²)``
    instead of the Zipf-tail quadratic, which is what makes the operator
    runnable at 10^12 edges. The pairs the hub alone would have
    suggested are exactly the pairs the literature down-weights to
    noise. Capped-out hubs still appear as ``a``/``b`` endpoints.

    Scale shape: degree agg -> wedge self-join keyed on z (bounded by
    the cap) -> one (a, b) count/sum agg with map-side partials -> one
    anti-join against the edge set to drop existing edges.
    """
    e = _undirected(edges, src_col, dst_col)
    deg = _degrees(e, "dz").withColumnRenamed("node", "z")
    adj = (
        _mirrored(e, pin=None)
        .select(F.col("u").alias("z"), F.col("v").alias("n"))
        .join(deg.where(F.col("dz") <= max_degree), "z")
        .localCheckpoint(eager=False)
    )
    l, r = adj.alias("l"), adj.alias("r")
    wedges = l.join(
        r, (F.col("l.z") == F.col("r.z")) & (F.col("l.n") < F.col("r.n"))
    ).select(
        F.col("l.n").alias("a"), F.col("r.n").alias("b"), F.col("l.dz").alias("dz")
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count("*").alias("common"),
        F.sum(F.expr(f"CAST({scale} AS BIGINT) DIV dz")).alias("ra_score"),
    )
    return (
        scored.join(
            e, (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")), "left_anti"
        )
        .where(F.col("common") >= min_common)
        .select("a", "b", "common", "ra_score")
    )


def hits_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """HITS hubs & authorities over a directed edge list ->
    ``(node, hub, auth)``, both scores scaled integers in ``[0, scale]``.

    Kleinberg's update with MAX-normalization instead of the textbook L2:
    each round ``auth(v) = sum of hub over in-neighbors`` then
    ``auth <- auth * scale DIV max(auth)`` (and symmetrically for hub).
    Max-normalization preserves the ranking the L2 norm gives while
    keeping EVERY operation integer (BIGINT): exact, commutative, and
    therefore bit-identical under any partitioning or engine — the same
    design as :func:`pagerank_fixed_point`, and what lets an iterative
    eigenvector-style algorithm hash-match a DuckDB oracle (the same
    rounds unrolled as CTEs with a scalar-subquery max).

    Overflow bound: after normalization every score is <= scale, so a
    round's raw sum is <= scale * max_degree and the rescale multiply is
    <= scale^2 * max_degree — with the default ``scale=1e6`` that stays
    inside signed-64 up to max degree ~9e6; lower ``scale`` for hubbier
    graphs (the bound is checked nowhere because the input degree is not
    known until runtime; documented instead).

    Scale shape: the deduped edge list materializes once
    (localCheckpoint); each half-round is one join keyed on the edge
    endpoint + one map-side-combinable sum + one tiny single-row max
    aggregate broadcast back over the scores (a broadcast nested-loop
    against a 1-row frame, never a shuffle of the scores themselves).
    """
    e = _directed(edges, src_col, dst_col, loops=False)
    nodes = _nodes(e, "s", "d", pin=_lazy_pin)

    def _norm(scored: DataFrame, col: str) -> DataFrame:
        mx = scored.agg(F.greatest(F.max(col), F.lit(1)).alias("_mx"))
        return scored.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr(f"{col} * CAST({scale} AS BIGINT) DIV _mx").cast("long").alias(col),
        )

    hub = nodes.withColumn("hub", F.lit(scale).cast("long"))
    auth = None
    for _ in range(iterations):
        a_raw = (
            nodes.join(
                e.join(hub.select(F.col("node").alias("s"), "hub"), "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.sum("hub").alias("auth")),
                "node", "left",
            ).select("node", F.coalesce("auth", F.lit(0)).cast("long").alias("auth"))
        )
        auth = _norm(a_raw, "auth").transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        h_raw = (
            nodes.join(
                e.join(auth.select(F.col("node").alias("d"), "auth"), "d")
                .groupBy(F.col("s").alias("node"))
                .agg(F.sum("auth").alias("hub")),
                "node", "left",
            ).select("node", F.coalesce("hub", F.lit(0)).cast("long").alias("hub"))
        )
        hub = _norm(h_raw, "hub").transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
    return hub.join(auth, "node").select("node", "hub", "auth")


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    weight_col: str | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int | None = None,
    max_rounds: int = 50,
    directed: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Single/multi-source shortest paths (distributed Bellman-Ford) ->
    ``(node, dist)`` for every node reachable from any seed, ``dist`` =
    minimum total edge weight (``weight_col``; hop count when None).
    Weights must be non-negative integers — exact BIGINT arithmetic, so
    results are partitioning- and engine-independent.

    Two modes:
    - ``rounds=k`` (exact-rounds): run exactly k relaxation rounds with
      ZERO driver synchronization — k joins + k min-aggregates, one
      straight-line plan. Distances needing more than k relaxations are
      reported at their k-round value (the standard bounded-Bellman-Ford
      semantics; same design as k_core's exact-rounds mode, and what an
      unrolled SQL oracle can mirror).
    - ``rounds=None`` (fixpoint): iterate until no distance changes (one
      count per round), raising if ``max_rounds`` is hit — the converged
      result is the true shortest-path distance set.

    Scale shape: the edge list dedupes parallel edges to their min weight
    and materializes once; each round is one join keyed on src + one
    map-side-combinable min keyed on node. The frontier never explodes:
    relaxation rows are bounded by |E| per round.
    """
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"), w.alias("w"))
    if not directed:
        e = e.unionAll(
            edges.select(
                F.col(dst_col).alias("s"), F.col(src_col).alias("d"), w.alias("w")
            )
        )
    e = e.groupBy("s", "d").agg(F.min("w").alias("w")).localCheckpoint(eager=False)

    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )

    def relax(cur: DataFrame) -> DataFrame:
        cand = (
            e.join(cur.select(F.col("node").alias("s"), "dist"), "s")
            .select(F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        return cur.unionByName(cand).groupBy("node").agg(F.min("dist").alias("dist"))

    def step(dist, _):
        # lazy: in fixpoint mode the change count below is the action that
        # materializes the round
        nxt = relax(dist).transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        if rounds is None and nxt.join(
            dist.withColumnRenamed("dist", "_old"), "node", "left"
        ).where(F.col("_old").isNull() | (F.col("dist") != F.col("_old"))).count() == 0:
            return Converged(nxt)
        return nxt

    return fixpoint(
        dist, step, max_rounds=max_rounds, exact_rounds=rounds, stats=stats,
        error=f"shortest_paths did not converge within {max_rounds} rounds; "
        "raise max_rounds (graph diameter exceeds the cap) or use "
        "exact-rounds mode",
    )


def negative_triples(
    edges: DataFrame,
    m: int = 2,
    seed: int = 7,
    src_col: str = "src",
    dst_col: str = "dst",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training
    (TransE/DistMult-style corrupted triples): for every true edge, ``m``
    candidates ``(src, label, dst')`` with ``dst'`` hash-picked uniformly
    from the node universe, minus any candidate that collides with a true
    edge (or with its own ``dst``). A pure function of (graph, seed) —
    the pick index is ``md5('neg<seed>:<j>:' src '>' label '>' dst) % N``
    against the rank-by-id node table, so a SQL oracle reproduces the
    exact negative set (library samplers are RNG-state-dependent).

    Returns ``(src, label, neg_dst, j)``; expect slightly fewer than
    ``m x |E|`` rows (true-edge collisions are dropped, and two ``j`` of
    one edge may pick the same node — kept as distinct training examples
    with their ``j``). Input edges are DISTINCT-ed internally on
    (src, label, dst) first, so duplicated input triples (the natural
    output of multi-part graph builders) do not inflate the negative
    ratio with duplicated rows.

    Scale shape: nodes are indexed by the lazy distributed zip-with-index
    over a range-partitioned sort (no single-task window); candidates
    join the node table on the pick index (plain equi-join, uniform by
    construction — md5 spreads hub edges across all of [0, N)), then one
    anti-join against the true edge set. No step holds more than
    ``m x |E|`` rows; nothing collects.
    """
    from .compiler import with_row_index
    from .textops import md5_int

    edges = edges.select(src_col, label_col, dst_col).distinct()
    nodes = _nodes(edges, src_col, dst_col).withColumnRenamed("node", "_node")
    indexed = with_row_index(nodes.orderBy("_node").localCheckpoint(eager=False), "_idx")
    # count from the plain nodes frame — the same number as counting the
    # indexed frame, without dragging the zip-with-index machinery into a
    # query whose answer is one scalar
    n_total = nodes.agg(F.count("*").alias("_n"))

    cand = (
        edges.select(src_col, label_col, dst_col)
        .crossJoin(F.broadcast(n_total))
        .select(
            src_col,
            label_col,
            dst_col,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
            F.col("_n"),
        )
        .withColumn(
            "_idx",
            md5_int(
                F.concat(
                    F.lit(f"neg{seed}:"), F.col("j").cast("string"), F.lit(":"),
                    F.col(src_col), F.lit(">"), F.col(label_col), F.lit(">"),
                    F.col(dst_col),
                )
            )
            % F.col("_n"),
        )
    )
    picked = (
        cand.join(indexed, "_idx")
        .where(F.col("_node") != F.col(dst_col))
        .select(src_col, label_col, F.col("_node").alias("neg_dst"), "j")
    )
    true_edges = edges.select(
        F.col(src_col), F.col(label_col), F.col(dst_col).alias("neg_dst")
    ).distinct()
    return picked.join(true_edges, [src_col, label_col, "neg_dst"], "left_anti")


def walk_skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
    walk_col: str = "walk_id",
    step_col: str = "step",
    node_col: str = "node",
) -> DataFrame:
    """Skip-gram training pairs from walk positions (the DeepWalk/node2vec
    stage between :func:`random_walks` and the embedding trainer) ->
    ``(center, context, n_pairs)``: every ordered position pair within
    ``window`` steps of each other, BOTH directions, aggregated to
    frequencies — exactly the (input, output) distribution word2vec's
    skip-gram objective samples from.

    Scale shape: one groupBy(walk_id) collects each walk into a bounded
    array (walk_length is config-small — the state is never corpus-sized),
    a HOF slice/transform explodes the within-window pairs with zero
    joins, and one counting aggregate with map-side partials absorbs the
    hub-pair skew. Two shuffles total, both on necessary keys.
    """
    seq = F.array_sort(F.collect_list(F.struct(step_col, node_col)))
    per_walk = walks.groupBy(walk_col).agg(seq.alias("_seq"))
    pairs = per_walk.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_seq"),
                    lambda s, i: F.transform(
                        F.slice(F.col("_seq"), i + 2, window),
                        lambda t: F.struct(
                            s[node_col].alias("center"),
                            t[node_col].alias("context"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.center", "p.context")
    both = pairs.unionByName(
        pairs.select(
            F.col("context").alias("center"), F.col("center").alias("context")
        )
    )
    return both.groupBy("center", "context").agg(F.count("*").alias("n_pairs"))


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity Q of a community assignment over the undirected
    simple graph -> ONE row ``(m, intra_edges, degree_sq_sum,
    modularity)`` — the quality score that turns label_propagation from
    "it ran" into "it found structure" (random assignments score ~0).

    Exact arithmetic end-to-end: ``Q = (4m·Σe_c − Σd_c²) / 4m²`` — every
    term BIGINT (numerator and denominator are exact), so the only FP op
    is ONE division of two exact integers, bit-identical in any engine;
    the published value is IEEE-rounded to 4 digits. ``d_c²`` overflows
    past d_c ~3·10^9 (a community holding a third of a 10^10-edge graph) —
    at that point the term needs DECIMAL(38), documented not silently
    wrong.

    Scale shape: edge normalization is a distinct agg; degrees one count
    agg; the intra-community count joins each edge's two endpoint labels
    (two id-keyed hash joins — the community frame is node-sized, usually
    the smaller side); the per-community degree rollup is one more agg.
    Everything reduces to three 1-row frames crossed at the end.
    """
    und = _undirected(edges, src_col, dst_col)
    m = und.agg(F.count("*").alias("m"))
    deg = _degrees(und, "_d").withColumnRenamed("node", node_col)
    comm = communities.select(F.col(node_col), F.col(community_col))
    intra = (
        und.join(comm.select(F.col(node_col).alias("u"), F.col(community_col).alias("_cu")), "u")
        .join(comm.select(F.col(node_col).alias("v"), F.col(community_col).alias("_cv")), "v")
        .where(F.col("_cu") == F.col("_cv"))
        .agg(F.count("*").alias("intra_edges"))
    )
    dsq = (
        deg.join(comm, node_col)
        .groupBy(community_col)
        .agg(F.sum("_d").alias("_dc"))
        .agg(F.sum(F.col("_dc") * F.col("_dc")).alias("degree_sq_sum"))
    )
    from .textops import round_ieee

    out = m.crossJoin(intra).crossJoin(dsq)
    num = (4 * F.col("m") * F.col("intra_edges") - F.col("degree_sq_sum")).cast("double")
    den = (4 * F.col("m") * F.col("m")).cast("double")
    return out.select(
        "m", "intra_edges", "degree_sq_sum",
        round_ieee(num / den, 4).alias("modularity"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    iterations: int = 5,
    scale: int = 1_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the teleport mass returns
    ONLY to the seed set, so rank measures proximity to the seeds — the
    "domains like these trusted domains" / "entities related to this
    entity" ranking, where global PageRank only measures popularity.
    Same exact-integer discipline as :func:`pagerank_fixed_point`
    (start: ``scale`` on seeds, 0 elsewhere; update: ``is_seed * teleport
    + d * inbound DIV 100``), so the result is bit-identical across
    engines and partitionings and can be hash-oracle-checked.

    Scale shape: identical to pagerank_fixed_point — edge list, degrees,
    and the seed-flagged node frame materialize once; each round is one
    src-keyed join + one map-side-combinable dst sum. The seed set rides
    as a 0/1 column on the node frame (one left join at setup), never a
    per-round lookup.
    """
    e = _directed(edges, src_col, dst_col)
    outd = e.groupBy("s").agg(F.count("*").alias("od"))
    nodes = _nodes(e, "s", "d")
    # out-degrees are loop-invariant: attach once (pagerank_fixed_point)
    e = e.join(outd, "s").localCheckpoint(eager=False)
    seed_nodes = seeds.select(F.col(node_col).alias("node")).distinct()
    flagged = (
        nodes.join(seed_nodes.withColumn("_s", F.lit(1)), "node", "left")
        .select("node", F.coalesce(F.col("_s"), F.lit(0)).alias("_s"))
        .localCheckpoint(eager=False)
    )
    teleport = ((100 - damping_pct) * scale) // 100
    ranks = flagged.select(
        "node", (F.col("_s") * scale).cast("long").alias("rank")
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks.select(F.col("node").alias("s"), "rank"), "s")
            .select(F.col("d").alias("node"), F.expr("rank DIV od").alias("c"))
        )
        inbound = contribs.groupBy("node").agg(F.sum("c").alias("inb"))
        ranks = (
            flagged.join(inbound, "node", "left")
            .select(
                "node",
                (
                    F.col("_s") * teleport
                    + F.expr(f"{damping_pct} * coalesce(inb, 0) DIV 100")
                ).cast("long").alias("rank"),
            )
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
    return ranks


def community_graph(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    keep_self: bool = True,
) -> DataFrame:
    """Coarsen the graph by a community assignment -> the SUPER-GRAPH
    ``(src_community, dst_community, weight)`` where weight counts the
    distinct underlying (undirected) edges between the two communities —
    the multilevel step every Louvain-style pipeline and every
    drill-down graph UI needs after community detection. Self rows
    (``src_community == dst_community``) carry the intra-community edge
    counts; ``keep_self=False`` drops them. Community pairs are
    canonicalized (least, greatest) so each undirected super-edge appears
    once.

    Scale shape: two node-keyed hash joins attach endpoint labels (the
    community frame is node-sized — the smaller side), then one counting
    aggregate on the community pair; map-side partials absorb the
    quadratic-feeling hub-pair fan-in because the distinct edge list was
    already linear.
    """
    und = _undirected(edges, src_col, dst_col, pin=None)
    comm = communities.select(F.col(node_col), F.col(community_col))
    labeled = und.join(
        comm.select(F.col(node_col).alias("u"), F.col(community_col).alias("_cu")), "u"
    ).join(
        comm.select(F.col(node_col).alias("v"), F.col(community_col).alias("_cv")), "v"
    )
    out = (
        labeled.select(
            F.least("_cu", "_cv").alias("src_community"),
            F.greatest("_cu", "_cv").alias("dst_community"),
        )
        .groupBy("src_community", "dst_community")
        .agg(F.count("*").alias("weight"))
    )
    if not keep_self:
        out = out.where(F.col("src_community") != F.col("dst_community"))
    return out


def cycle_nodes(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 12,
) -> DataFrame:
    """Nodes that lie on a directed cycle -> ``(node, min_cycle_len)`` —
    the KG hygiene check every ontology ingest runs (a subclass/part-of
    hierarchy must be a DAG; a cycle makes transitive closure semantics
    circular and the reference's family automap ill-defined, so surfacing
    the offending nodes WITH their shortest cycle length is the
    actionable diagnostic, reference ontology handling
    src/ontoweaver/fusion.py type hierarchies).

    A node is on a cycle iff it reaches itself, so this is a projection
    of :func:`ontoweaver_spark.ontology.subclass_closure` (path doubling,
    min-depth, cycle-tolerant by construction): self-reach rows ARE the
    cycle membership, and their min depth is the shortest cycle through
    that node. log2(longest cycle) self-joins total — no per-node DFS,
    nothing driver-side.
    """
    from .ontology import subclass_closure

    closure = subclass_closure(
        edges.select(F.col(src_col).alias("child"), F.col(dst_col).alias("parent")),
        max_rounds=max_rounds,
    )
    return closure.where(F.col("descendant") == F.col("ancestor")).select(
        F.col("descendant").alias("node"),
        F.col("depth").alias("min_cycle_len"),
    )


def profile_graph(
    nodes: DataFrame,
    edges: DataFrame,
    props_col: str = "properties",
) -> DataFrame:
    """Schema/health report of a fused graph -> ``(section, name, metric,
    value)`` long-format rows — the BioCypher-style summary the reference
    ecosystem prints after an import (what labels exist, how many, which
    properties are actually filled, what the edge fan-out looks like),
    and the first thing to diff between two pipeline runs before diffing
    a single row:

    - ``('node_label', <label>, 'count', n)``
    - ``('prop_fill', <label>.<prop>, 'count', n)`` — nodes of that
      label carrying the property (fill-rate numerator; the label count
      above is the denominator)
    - ``('edge_label', <label>, 'count' | 'distinct_src' | 'distinct_dst', n)``
    - ``('degree', <edge_label>, 'max_out' | 'max_in', n)`` — hub
      detection: the salted-fusion / AQE-skew decision signal

    All integer metrics (engine-portable). Shape: three hash aggregates
    (nodes by label, exploded property keys by (label, key), edges by
    label with exact distinct endpoints) plus two per-label max-degree
    aggs; each is map-side-partial, nothing driver-side, and the output
    is label-cardinality-sized.
    """
    lbl = F.col("label").cast("string")
    node_counts = nodes.groupBy(lbl.alias("name")).agg(
        F.count("*").alias("value")
    ).select(
        F.lit("node_label").alias("section"), "name",
        F.lit("count").alias("metric"), "value",
    )
    prop_fill = (
        nodes.select(lbl.alias("_l"), F.explode(F.map_keys(F.col(props_col))).alias("_p"))
        .groupBy("_l", "_p")
        .agg(F.count("*").alias("value"))
        .select(
            F.lit("prop_fill").alias("section"),
            F.concat_ws(".", F.col("_l"), F.col("_p")).alias("name"),
            F.lit("count").alias("metric"), "value",
        )
    )
    edge_stats = (
        edges.groupBy(lbl.alias("name"))
        .agg(
            F.count("*").alias("count"),
            F.countDistinct("src").alias("distinct_src"),
            F.countDistinct("dst").alias("distinct_dst"),
        )
        .selectExpr(
            "stack(3, 'count', count, 'distinct_src', distinct_src, "
            "'distinct_dst', distinct_dst) AS (metric, value)",
            "name",
        )
        .select(F.lit("edge_label").alias("section"), "name", "metric", "value")
    )
    out_deg = (
        edges.groupBy(lbl.alias("name"), F.col("src"))
        .agg(F.count("*").alias("d"))
        .groupBy("name")
        .agg(F.max("d").alias("value"))
        .select(F.lit("degree").alias("section"), "name",
                F.lit("max_out").alias("metric"), "value")
    )
    in_deg = (
        edges.groupBy(lbl.alias("name"), F.col("dst"))
        .agg(F.count("*").alias("d"))
        .groupBy("name")
        .agg(F.max("d").alias("value"))
        .select(F.lit("degree").alias("section"), "name",
                F.lit("max_in").alias("metric"), "value")
    )
    return (
        node_counts.unionByName(prop_fill)
        .unionByName(edge_stats)
        .unionByName(out_deg)
        .unionByName(in_deg)
    )


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    trim_rounds: int = 10,
    max_rounds: int = 12,
) -> DataFrame:
    """Strongly connected components of a directed graph -> ``(node,
    scc_id)`` with ``scc_id`` = min member id — the cycle-structure view
    of redirect graphs and host link graphs (a redirect loop is exactly
    a multi-node SCC; :func:`ontoweaver_spark.urls.resolve_redirects`
    raises on them, this names them).

    Two phases, sized to how web graphs actually look:

    1. **Trim** — iteratively drop nodes with no in-edges or no
       out-edges inside the surviving subgraph (each is a singleton SCC;
       on link graphs this removes the vast majority — leaves, tails,
       and everything acyclic peels from both ends). Stopping early at
       ``trim_rounds`` is safe: trim is purely a core-shrinking
       optimization, correctness never depends on it.
    2. **Mutual reachability on the core** — path-doubling transitive
       closure (:func:`ontoweaver_spark.ontology.subclass_closure`,
       log2(diameter) shuffles) self-joined against its own reverse;
       ``scc_id(u)`` = min over u's mutual-reach partners and itself.
       The closure materializes O(core²) pairs worst-case, which is the
       deliberate trade: after trim the core is the cyclic residue
       (redirect loops, link cliques), orders of magnitude smaller than
       the graph. The closure's convergence raise fires if the core is
       deeper than 2^max_rounds.

    Singleton policy: every node incident to an edge appears exactly
    once; self-loop-only and trimmed nodes map to themselves.
    """
    from .ontology import subclass_closure

    e = _directed(
        edges.where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()),
        src_col, dst_col, cast="string", pin=None,
    )
    nodes_all = _nodes(e, "s", "d", pin=lambda n: n.localCheckpoint())

    core = e.where(F.col("s") != F.col("d")).localCheckpoint()
    prev = -1
    for _ in range(trim_rounds):
        n = core.count()
        if n == prev or n == 0:
            break
        prev = n
        keep = (
            core.select(F.col("s").alias("node")).distinct()
            .join(core.select(F.col("d").alias("node")).distinct(), "node")
        )
        core = (
            core.join(keep.select(F.col("node").alias("s")), "s")
            .join(keep.select(F.col("node").alias("d")), "d")
            .select("s", "d")
            .transform(stats_reset_checkpoint)
        )

    if prev == 0 or core.isEmpty():
        return nodes_all.select("node", F.col("node").alias("scc_id"))

    reach = subclass_closure(
        core, child_col="s", parent_col="d", max_rounds=max_rounds
    ).select(F.col("descendant").alias("u"), F.col("ancestor").alias("v"))
    mutual = reach.join(
        reach.select(F.col("v").alias("u"), F.col("u").alias("v")),
        ["u", "v"],
    )
    labels = (
        mutual.groupBy("u")
        .agg(F.min("v").alias("_m"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("_m")).alias("_scc"),
        )
    )
    return nodes_all.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("_scc"), F.col("node")).alias("scc_id")
    )


def edge_partition_plan(
    edges: DataFrame,
    num_partitions: int = 32,
    hub_threshold: int = 1000,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Skew-aware edge partition assignment -> per-partition load report
    ``(partition, n_edges, n_hub_edges, n_srcs)``.

    The north-rule pipeline's fusion/degree stages shuffle edges on the
    source key; a web graph's hub hosts (degree millions) turn that hash
    partitioning into stragglers. This planner materializes the placement
    decision the engine's salted aggregates make implicitly: an edge whose
    source is a NORMAL vertex goes to ``hash(src) % P`` (source-grouped,
    zero-cost co-location for per-source work), while an edge whose source
    is a HUB (out-degree > ``hub_threshold``) is vertex-cut across
    partitions by ``(hash(src) + hash(dst)) % P`` — the 1D/2D hybrid
    placement PowerGraph-style systems use. Both hashes are md5-based so
    the plan is deterministic and oracle-reproducible.

    Shape at 10^12 edges: one out-degree aggregate (map-side combining),
    the hub set joined back — hubs are by definition FEW, so AQE
    broadcasts the hub list — then a pure projection computes the
    partition id and one final hash aggregate reports the load. Use the
    report's max/avg ratio to pick ``hub_threshold``: the test asserts the
    vertex-cut plan's imbalance collapses vs naive hash(src) on a skewed
    graph.
    """
    assigned = assign_edge_partitions(
        edges, num_partitions=num_partitions, hub_threshold=hub_threshold,
        src_col=src_col, dst_col=dst_col,
    )
    return (
        assigned.select(
            "partition",
            F.col("is_hub_edge").cast("long").alias("_hub_edge"),
            "src",
        )
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("_hub_edge").alias("n_hub_edges"),
            F.count_distinct("src").alias("n_srcs"),
        )
    )


def assign_edge_partitions(
    edges: DataFrame,
    num_partitions: int = 32,
    hub_threshold: int = 1000,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-EDGE hybrid vertex-cut assignment -> ``(src, dst, is_hub_edge,
    partition)`` — the placement frame :func:`edge_partition_plan`
    aggregates into a load report and :func:`partition_quality` scores.
    Normal edges go to ``hash(src) % P`` (1D, source-co-located); edges
    whose source out-degree exceeds ``hub_threshold`` are spread by
    ``(hash(src) + hash(dst)) % P`` (2D vertex-cut) — the PowerGraph
    hybrid-cut (Gonzalez et al., OSDI'12; Chen et al., EuroSys'15
    PowerLyra). md5-based hashes keep the plan deterministic and
    oracle-reproducible. Shape: one map-side-combinable degree aggregate,
    a broadcast hub join (hubs are few by definition), then a pure
    projection — no shuffle of the edge table itself.
    """
    deg = edges.groupBy(F.col(src_col).alias("_h")).agg(
        F.count(F.lit(1)).alias("_outdeg")
    )
    hubs = deg.where(F.col("_outdeg") > hub_threshold).select("_h")
    e = edges.join(
        F.broadcast(hubs), edges[src_col] == hubs["_h"], "left"
    ).select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col("_h").isNotNull().alias("is_hub_edge"),
    )
    part = F.when(
        F.col("is_hub_edge"),
        F.pmod(md5_int(F.col("src")) + md5_int(F.col("dst")), F.lit(num_partitions)),
    ).otherwise(F.pmod(md5_int(F.col("src")), F.lit(num_partitions)))
    return e.select("src", "dst", "is_hub_edge", part.cast("int").alias("partition"))


def partition_quality(
    assigned: DataFrame,
    num_partitions: int,
    src_col: str = "src",
    dst_col: str = "dst",
    partition_col: str = "partition",
) -> DataFrame:
    """Score an edge-partition assignment -> ONE row ``(n_edges,
    n_vertices, parts_used, max_load, balance_ppm, replication_ppm)`` —
    the two numbers that decide whether a placement survives 1000
    executors: **balance** = max_load * P * 1e6 DIV n_edges (1e6 =
    perfectly level; the straggler factor is balance/1e6) and
    **replication factor** = avg distinct partitions touched per vertex
    * 1e6 (the vertex-cut cost: every extra replica is one more copy of
    vertex state to synchronize per iteration — THE communication-volume
    proxy PowerGraph optimizes). Evaluating both against
    :func:`assign_edge_partitions` at two hub thresholds is how the
    threshold is picked for a given degree distribution — measured, not
    guessed.

    Shape: one groupBy for loads + one endpoint-exploded distinct for
    replicas (both map-side combinable), crossed into a single row.
    """
    e = assigned.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
        F.col(partition_col).alias("part"),
    )
    loads = e.groupBy("part").agg(F.count(F.lit(1)).alias("_n"))
    tot = F.broadcast(loads.agg(
        F.sum("_n").alias("n_edges"),
        F.count(F.lit(1)).alias("parts_used"),
        F.max("_n").alias("max_load"),
    ))
    touch = (
        e.select(F.col("src").alias("v"), "part")
        .unionAll(e.select(F.col("dst").alias("v"), "part"))
        .distinct()
    )
    rep = F.broadcast(
        touch.groupBy("v").agg(F.count(F.lit(1)).alias("_r"))
        .agg(F.count(F.lit(1)).alias("n_vertices"),
             F.sum("_r").alias("_replicas"))
    )
    return tot.crossJoin(rep).select(
        "n_edges", "n_vertices", "parts_used", "max_load",
        F.expr(f"max_load * {num_partitions} * 1000000 DIV n_edges")
        .alias("balance_ppm"),
        F.expr("_replicas * 1000000 DIV n_vertices").alias("replication_ppm"),
    )


def schema_graph(
    nodes: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """Instance->schema summarization: collapse the typed instance graph
    to its label-level quotient ``(src_label, edge_label, dst_label,
    n_edges, n_srcs, n_dsts)`` — the induced ontology a KG-construction
    run is validated against (does the data contain edge shapes the
    mapped ontology never declared?). `ontology.validate_edge_types`
    checks edges against a DECLARED schema; this derives the OBSERVED
    one, and diffing the two is the schema-drift report.

    Shape at 10^12 edges: two joins against the node label projection —
    a label table is bounded by node count but joined on node id, so it
    shuffles once per endpoint unless the graph tables are bucketed by
    id/src (ours are, pipeline.write_bucketed_graph) — then one hash
    aggregate on the (tiny) label-triple key.
    """
    lab = nodes.select(F.col("id"), F.col("label"))
    return (
        edges.join(
            lab.select(F.col("id").alias("src"), F.col("label").alias("src_label")),
            "src",
        )
        .join(
            lab.select(F.col("id").alias("dst"), F.col("label").alias("dst_label")),
            "dst",
        )
        .groupBy("src_label", F.col("label").alias("edge_label"), "dst_label")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.count_distinct("src").alias("n_srcs"),
            F.count_distinct("dst").alias("n_dsts"),
        )
    )


def landmark_distances(
    edges: DataFrame,
    landmarks: DataFrame,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Per-landmark hop distances -> ``(landmark, node, dist)`` for every
    (landmark, node) pair within ``rounds`` hops — the k-source BFS table
    behind landmark centrality and distance-oracle sketches. Unlike
    :func:`shortest_paths` (which folds all seeds into ONE min-distance
    surface), the landmark id rides in the relaxation key, so each
    landmark keeps its own distance field.

    Exact-rounds only (k joins + k min-aggregates keyed on
    ``(landmark, node)``, zero driver syncs) — a pure function of
    (graph, landmarks, rounds) that an unrolled SQL oracle mirrors.

    Scale shape: each round's relaxation is bounded by k*|E| rows for k
    landmarks (choose k in the tens, not thousands — landmark methods'
    whole point is k << n); the per-round aggregate combines map-side.
    The hop-count metric keeps everything BIGINT-exact.
    """
    e = _directed(edges, src_col, dst_col, symmetric=not directed)

    dist = (
        landmarks.select(F.col(landmarks.columns[0]).alias("landmark"))
        .distinct()
        .select("landmark", F.col("landmark").alias("node"),
                F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(rounds):
        cand = e.join(
            dist.select("landmark", F.col("node").alias("s"), "dist"), "s"
        ).select(
            "landmark", F.col("d").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("landmark", "node")
            .agg(F.min("dist").alias("dist"))
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
    return dist


def harmonic_closeness(
    edges: DataFrame,
    landmarks: DataFrame,
    rounds: int,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Landmark-estimated harmonic centrality -> ``(node, n_landmarks,
    harmonic)``: for each node reached by at least one landmark,
    ``harmonic = sum over landmarks L (scale DIV d(L, node))`` over the
    landmarks with ``0 < d <= rounds`` (self-distance excluded, as in
    Boldi-Vigna's definition), ``n_landmarks`` = how many such landmarks.
    Unreachable landmarks contribute 0 — exactly harmonic centrality's
    selling point over closeness on disconnected web graphs.

    ``scale DIV dist`` keeps the score an exact BIGINT (bit-identical
    across engines and partitionings); true harmonic centrality is the
    k->n limit — with k hash-chosen landmarks this is the standard
    unbiased estimator of it (Eppstein-Wang), up to the scale*k factor.

    One aggregate over :func:`landmark_distances`; the rollup key is the
    node, so hub fan-in combines map-side.
    """
    d = landmark_distances(
        edges, landmarks, rounds, src_col=src_col, dst_col=dst_col,
        directed=directed,
    )
    return (
        d.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_landmarks"),
            F.sum(F.expr(f"{scale} DIV dist")).alias("harmonic"),
        )
    )


def louvain_move(
    edges: DataFrame,
    rounds: int = 4,
    weight_col: str | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic Louvain move phase -> ``(node, community)`` after
    ``rounds`` synchronous MONOTONE-DESCENT greedy modularity moves over
    the undirected weighted simple graph. Each round every node evaluates
    the neighbor communities whose id is SMALLER than its current one
    (plus staying) and moves only on a STRICT modularity-gain
    improvement; ties keep the node in place, ties between two better
    targets take the smaller community id.

    The descent restriction is the symmetry breaker: plain synchronous
    Louvain two-cycles even on a single triangle (a moves to b's
    community while b simultaneously moves to a's, forever) and
    hash-parity scheduling still lets same-parity neighbors swap.
    Monotone descent makes each node's community id non-increasing, so
    the dynamics TERMINATE at a fixpoint (measured: a two-triangle graph
    settles into exactly its two triangles by round 3) while staying a
    pure function of the graph — an iterative, randomized-by-default
    algorithm that hash-matches an unrolled SQL oracle. One level of
    moves + :func:`community_graph` coarsening + more moves is the full
    Louvain cycle; :func:`label_propagation` votes by neighbor COUNT,
    this moves by modularity GAIN, so hub-heavy webgraph communities stop
    collapsing into the hub's label.

    The gain comparison is exact BIGINT: moving i to community c is
    ranked by ``2m * k_{i,c} - SUM_tot'(c) * k_i`` (the Louvain Delta-Q
    numerator with constant factors dropped — monotone in Delta-Q), with
    ``SUM_tot'(c)`` subtracting ``k_i`` when c is i's own community.
    Overflow bound: requires ``2m * max(k_i) < 2^63`` (unit weights:
    2m = 2|E|) — the same documented family as :func:`modularity`'s
    ``d_c^2`` bound; scale weights down before calling at the extreme.

    Scale shape (10^12 edges): per round one neighbor-label join (keyed
    on the endpoint), one ``(node, community)`` weight agg with map-side
    partials absorbing hub fan-in, one community-total agg over the NODE
    table, and one argmin per node. The edge list materializes once.
    """
    u, v = F.col(src_col), F.col(dst_col)
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    sym = (
        edges.select(u.alias("a"), v.alias("b"), w.alias("w"))
        .where(F.col("a") != F.col("b"))
        .unionAll(
            edges.select(v.alias("a"), u.alias("b"), w.alias("w"))
            .where(F.col("a") != F.col("b"))
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    deg = sym.groupBy("a").agg(F.sum("w").alias("k")).transform(
        lambda _d: stats_reset_checkpoint(_d, eager=False)
    )
    two_m = deg.agg(F.sum("k").alias("m2"))
    labels = deg.select(F.col("a").alias("node"), F.col("a").alias("community"))
    for _ in range(rounds):
        # weight from each node into each neighbor community
        k_ac = (
            sym.join(labels.select(F.col("node").alias("b"), "community"), "b")
            .groupBy(F.col("a").alias("node"), "community")
            .agg(F.sum("w").alias("k_ac"))
        )
        # community totals of weighted degree
        tot = (
            labels.join(deg.withColumnRenamed("a", "node"), "node")
            .groupBy("community")
            .agg(F.sum("k").alias("tot"))
        )
        own = labels.select("node", F.col("community").alias("own_c"))
        cand = (
            k_ac.unionByName(
                own.select("node", F.col("own_c").alias("community"))
                .withColumn("k_ac", F.lit(0).cast("long"))
            )
            .groupBy("node", "community")
            .agg(F.max("k_ac").alias("k_ac"))
            .join(own, "node")
            # monotone descent: only smaller-id targets (or staying put)
            .where(F.col("community") <= F.col("own_c"))
        )
        scored = (
            cand.join(tot, "community")
            .join(deg.withColumnRenamed("a", "node"), "node")
            .crossJoin(F.broadcast(two_m))
            .select(
                "node", "community",
                (
                    F.col("m2") * F.col("k_ac")
                    - (
                        F.col("tot")
                        - F.when(F.col("community") == F.col("own_c"), F.col("k"))
                        .otherwise(F.lit(0))
                    ) * F.col("k")
                ).alias("score"),
                # on equal score the OWN community wins (strict-improvement
                # moves only); among better targets, smaller id wins
                (F.col("community") != F.col("own_c")).cast("int").alias("mv"),
            )
        )
        labels = (
            scored.groupBy("node")
            .agg(
                F.min_by(
                    "community",
                    F.struct(
                        (-F.col("score")).alias("ns"), F.col("mv"),
                        F.col("community"),
                    ),
                ).alias("community")
            )
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
    return labels


def clustering_coefficient(
    edges: DataFrame,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient over the undirected simple
    graph -> ``(node, degree, triangles, clustering)`` with
    ``clustering = (2 * triangles * scale) DIV (degree * (degree - 1))``
    — exact BIGINT (the scaled-integer idiom that keeps an FP-looking
    metric engine-bit-identical), 0 for degree-1 nodes, one row per node
    that has at least one edge. The link-farm / tightly-knit-community
    signal next to :func:`k_core` (a spam cluster scores high, a crawl
    frontier hub scores near 0).

    Scale shape: triangles come from :func:`triangle_count`'s
    degree-ordered wedge enumeration (out-adjacency bounded O(sqrt m))
    over the same pinned edge list as the degrees, one count agg; the
    final join is node-keyed with the triangle frame the (much) smaller
    side. Overflow: needs ``2 * triangles * scale < 2^63`` per node — a
    node in 4.6e12/scale triangles; document-graph safe at any realistic
    scale.
    """
    e = _undirected(edges, src_col, dst_col)
    deg = _degrees(e, "degree")
    tri = _corner_counts(e)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node", "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") > 1,
                F.expr(
                    f"2 * coalesce(triangles, 0) * CAST({scale} AS BIGINT) "
                    "DIV (degree * (degree - 1))"
                ),
            ).otherwise(F.lit(0)).cast("long").alias("clustering"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Pearson degree-degree correlation over the undirected simple graph
    -> ONE row ``(m, sum_prod, sum_sum, sum_sq, assortativity)`` — the
    Newman assortativity coefficient r. Social networks are assortative
    (r > 0), the web graph famously disassortative (hubs link to leaves,
    r < 0) — a one-number sanity check that a synthetic or filtered crawl
    still looks like a web graph.

    Every aggregate term is an exact BIGINT over each edge's endpoint
    degrees (j, k): ``S1 = sum(j*k)``, ``S2 = sum(j+k)``,
    ``S3 = sum(j^2+k^2)``; r = (4m*S1 - S2^2) / (2m*S3 - S2^2) — the only
    FP op is ONE division of exact integers (IEEE-rounded to 4 digits).
    Overflow bound: ``4m * S1 < 2^63`` — S1 <= m * max_deg^2, fine below
    max_deg ~ 2e4 at m = 1e10; salt hub degrees down past that.

    Scale shape: one degree agg, two node-keyed joins to annotate each
    edge's endpoints, one 1-row rollup. No self-joins, no iteration.
    """
    from .textops import round_ieee

    e = _undirected(edges, src_col, dst_col)
    deg = _degrees(e, "d")
    annotated = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("ju")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("jv")), "v")
    )
    sums = annotated.agg(
        F.count("*").alias("m"),
        F.sum(F.col("ju") * F.col("jv")).alias("sum_prod"),
        F.sum(F.col("ju") + F.col("jv")).alias("sum_sum"),
        F.sum(F.col("ju") * F.col("ju") + F.col("jv") * F.col("jv")).alias("sum_sq"),
    )
    num = 4 * F.col("m") * F.col("sum_prod") - F.col("sum_sum") * F.col("sum_sum")
    den = 2 * F.col("m") * F.col("sum_sq") - F.col("sum_sum") * F.col("sum_sum")
    return sums.select(
        "m", "sum_prod", "sum_sum", "sum_sq",
        F.when(den != 0, round_ieee(num.cast("double") / den.cast("double"), 4))
        .otherwise(F.lit(0.0)).alias("assortativity"),
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (u < v) edge frame ->
    ``(u, v, support)`` for edges in at least one triangle. Same
    degree-ordered wedge enumeration as :func:`triangle_count` (hub
    out-adjacency bounded O(sqrt m)), but emitting each triangle's three
    EDGES instead of its corners."""
    tri = _triangles(e)
    sides = (
        tri.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .unionAll(tri.select(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v")))
        .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
    )
    return sides.groupBy("u", "v").agg(F.count("*").alias("support"))


def k_truss(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    exact_rounds: int | None = None,
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """k-truss of the undirected simple graph: iteratively drop every
    edge in fewer than ``k - 2`` triangles until fixpoint -> the
    surviving canonical edge list ``(u, v, support)`` (Cohen's truss —
    the standard dense-community backbone one notch stricter than
    :func:`k_core`: a k-core can be a sparse tree-like shell, a k-truss
    edge is certified by k-2 shared neighbors, which is what separates a
    link farm's clique core from a crawl hub's star).

    ``exact_rounds=r`` runs exactly r peel rounds with zero driver syncs
    (the SQL-oracle-mirrorable mode, same design as k_core); fixpoint
    mode stops when a round drops no edge and raises loudly at
    ``max_rounds``. Peel rounds are bounded by |E| drops total; each
    round is one triangle-support pass (degree-ordered wedge join — hub
    out-adjacency O(sqrt m)) + one filter on the shrinking edge frame,
    checkpointed lazily and materialized by ``session.fixpoint``'s
    (count, hash-sum) probe.
    """
    if k < 3:
        raise ValueError(f"k-truss requires k >= 3, got {k}")
    if exact_rounds is not None and exact_rounds < 1:
        raise ValueError("exact_rounds must be >= 1")
    e = _undirected(edges, src_col, dst_col, pin=stats_reset_checkpoint)
    # the (count, hash-sum) probe of the incoming frame makes round 1
    # comparable: a round that drops no edge leaves both unchanged
    return fixpoint(
        e,
        lambda e, _: _edge_support(e.select("u", "v"))
        .where(F.col("support") >= k - 2)
        .select("u", "v", "support"),
        max_rounds=max_rounds, exact_rounds=exact_rounds,
        probe=F.xxhash64("u", "v"), probe_start=True, stats=stats,
        error=f"k_truss did not converge within {max_rounds} peel rounds; "
        "raise max_rounds",
    )


def node2vec_walks(
    edges: DataFrame,
    walk_length: int = 3,
    w_return: int = 1,
    w_near: int = 1,
    w_far: int = 1,
    seed: int = 0,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Deterministic node2vec-BIASED walks -> ``(walk_id, step, node)``
    (step 0 = start; one walk per node with an out-edge). Second-order
    bias via Grover-Leskovec's three candidate classes, weighted by
    integer weights instead of 1/p, 1, 1/q:

    - ``w_return``: the candidate IS the previous node (distance 0);
    - ``w_near``: the candidate is ALSO a neighbor of the previous node
      (distance 1 — triangle-closing step);
    - ``w_far``: everything else (distance 2 — exploration step).

    node2vec's (p, q) map as ``w_return ~ 1/p``, ``w_far ~ 1/q`` scaled
    to integers (BFS-like: raise w_return/w_near; DFS-like: raise
    w_far). All defaults 1 == :func:`random_walks`' uniform choice.

    The weighted choice stays a pure function of (graph, seed): each
    candidate's priority is ``md5_int(walk ':' seed ':' step ':' c)
    DIV w(c)`` and the walk takes the argmin — the integer Ohlsson-style
    hash-priority scheme (:func:`ontoweaver_spark.sampling.weighted_sample`);
    a weight-w candidate wins ~proportionally more often, deterministic
    enough to hash-match an unrolled SQL oracle, which is what no
    RNG-based node2vec implementation can offer across engines.

    Scale shape: per step one frontier join keyed on the current node,
    ONE extra left semi-style join against the edge list keyed on
    (prev, candidate) for the distance-1 test (the price of second-order
    bias; first-order :func:`random_walks` skips it), and one min_by agg
    keyed on walk_id with map-side partials absorbing hub fan-out. No
    adjacency arrays, ever.
    """
    if min(w_return, w_near, w_far) < 1:
        raise ValueError("weights must be positive integers")
    e = _directed(edges, src_col, dst_col, symmetric=not directed, loops=False)

    starts = (
        _nodes(e, "s")
        .select(
            F.concat(F.col("node"), F.lit("#0")).alias("walk_id"), "node"
        )
        .localCheckpoint(eager=False)
    )
    walks = starts.withColumn("step", F.lit(0))
    frontier = starts.withColumn("prev", F.lit(None).cast("string"))
    adj = e.select(F.col("s").alias("_pa"), F.col("d").alias("_pb")).withColumn(
        "_is_near", F.lit(1)
    )
    for step in range(1, walk_length + 1):
        cand = (
            frontier.join(e, frontier["node"] == e["s"])
            .select("walk_id", "prev", F.col("d").alias("nxt"))
            .join(
                adj,
                (F.col("prev") == F.col("_pa")) & (F.col("nxt") == F.col("_pb")),
                "left",
            )
            .select(
                "walk_id", "prev", "nxt",
                F.when(F.col("nxt") == F.col("prev"), F.lit(w_return))
                .when(F.col("_is_near") == 1, F.lit(w_near))
                .otherwise(F.lit(w_far)).alias("w"),
            )
        )
        h = md5_int(
            F.concat(F.col("walk_id"), F.lit(f":{seed}:{step}:"), F.col("nxt"))
        )
        # integer DIV, not FP: a 60-bit hash through a double loses the
        # low bits (2^60 > 2^53) and the tie-break would drift cross-engine
        scored = cand.withColumn("_h", h).withColumn(
            "_pr", F.expr("_h DIV w")
        )
        order_key = F.concat(
            F.lpad(F.col("_pr").cast("string"), 20, "0"), F.col("nxt")
        )
        chosen = (
            scored.groupBy("walk_id")
            .agg(F.min_by(F.col("nxt"), order_key).alias("node"))
        )
        nxt_frontier = (
            chosen.join(
                frontier.select("walk_id", F.col("node").alias("prev")), "walk_id"
            )
            .select("walk_id", "node", "prev")
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
        walks = walks.unionByName(
            nxt_frontier.select("walk_id", "node").withColumn("step", F.lit(step))
        )
        frontier = nxt_frontier
    return walks.select("walk_id", "step", "node")


def betweenness_landmark(
    edges: DataFrame,
    landmarks: DataFrame,
    rounds: int,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Landmark betweenness centrality (Brandes' dependency accumulation,
    bounded to shortest paths of <= ``rounds`` hops) -> ``(node,
    betweenness)``: the bridge/broker score — which entities sit ON the
    shortest paths between others, the one classic centrality
    :func:`pagerank_fixed_point` (flow) and :func:`harmonic_closeness`
    (reach) don't capture.

    Exactly Brandes, made engine-reproducible:
    - forward: per-landmark BFS levels with EXACT integer path counts
      ``sigma`` (level t's count = sum of level t-1 predecessors');
    - backward: scaled-integer dependencies
      ``delta(v) = sum over BFS-DAG successors w of
      sigma_v * (scale + delta(w)) DIV sigma_w`` — each term one integer
      division (truncation deterministic and identical cross-engine),
      the sum exact, so a fractional-by-definition metric hash-matches
      an unrolled SQL oracle. ``betweenness(v) = sum over landmarks of
      delta(v)`` (landmarks themselves excluded, as in Brandes).
    True betweenness is the all-sources, unbounded-depth limit; k
    hash-chosen landmarks give the standard unbiased sample estimate.

    Overflow bound: sigma grows with path multiplicity —
    ``max_sigma * (scale + max_delta) < 2^63`` caps usable depth around
    4-6 on dense graphs at scale=1e6; document-graph safe.

    Scale shape: the forward pass reuses :func:`landmark_distances`
    (k*|E| rows/round); each sigma level and each backward delta level
    is ONE edge join filtered to consecutive BFS levels + one
    map-side-combinable sum. Everything keyed on (landmark, node) — hub
    fan-in lands in aggregate partials.
    """
    e = _directed(edges, src_col, dst_col, symmetric=not directed, loops=False)

    dist = stats_reset_checkpoint(
        landmark_distances(e, landmarks, rounds, src_col="s", dst_col="d"),
        eager=False,
    )

    # forward: per-level exact path counts
    levels = [
        dist.where(F.col("dist") == 0)
        .select("landmark", "node", F.lit(1).cast("long").alias("sigma"))
        .localCheckpoint(eager=False)
    ]
    for t in range(1, rounds + 1):
        at_t = dist.where(F.col("dist") == t).select("landmark", "node")
        nxt = (
            levels[-1]
            .join(e, levels[-1]["node"] == e["s"])
            .select("landmark", F.col("d").alias("node"), "sigma")
            .join(at_t, ["landmark", "node"])
            .groupBy("landmark", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
        levels.append(nxt)

    sig = levels[0]
    for lv in levels[1:]:
        sig = sig.unionByName(lv)
    sig = stats_reset_checkpoint(
        sig.join(dist, ["landmark", "node"]).select(
            "landmark", "node", "dist", "sigma"
        )
    )

    # backward: deepest level has no in-bound successors -> delta 0
    delta = None
    for t in range(rounds - 1, 0, -1):
        v_t = sig.where(F.col("dist") == t).select(
            "landmark", F.col("node").alias("v"), F.col("sigma").alias("sig_v")
        )
        w_t1 = sig.where(F.col("dist") == t + 1).select(
            "landmark", F.col("node").alias("w"), F.col("sigma").alias("sig_w")
        )
        if delta is not None:
            w_t1 = w_t1.join(
                delta.select("landmark", F.col("node").alias("w"),
                             F.col("delta").alias("d_w")),
                ["landmark", "w"], "left",
            ).select("landmark", "w", "sig_w",
                     F.coalesce(F.col("d_w"), F.lit(0)).alias("d_w"))
        else:
            w_t1 = w_t1.withColumn("d_w", F.lit(0).cast("long"))
        terms = (
            v_t.join(e, v_t["v"] == e["s"])
            .select("landmark", "v", "sig_v", F.col("d").alias("w"))
            .join(w_t1, ["landmark", "w"])
            .select(
                "landmark", F.col("v").alias("node"),
                F.expr(f"sig_v * ({scale} + d_w) DIV sig_w").alias("term"),
            )
        )
        lvl_delta = terms.groupBy("landmark", "node").agg(
            F.sum("term").alias("delta")
        ).transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        delta = lvl_delta if delta is None else delta.unionByName(lvl_delta)

    if delta is None:
        return sig.sparkSession.createDataFrame(
            [], "node string, betweenness long"
        )
    return delta.groupBy("node").agg(F.sum("delta").alias("betweenness"))


def neighborhood_function(
    edges: DataFrame,
    rounds: int,
    k: int = 32,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """ANF / effective-diameter estimation via mergeable KMV sketches ->
    ``(node, n_kept, estimate)``: for every node, an estimate of
    ``|{u: dist(node, u) <= rounds}|`` (the node's h-hop neighborhood
    size, node itself included). Sum the estimates over nodes and sweep
    ``rounds`` to trace the neighborhood function N(h) — the curve whose
    90% point is the web graph's effective diameter (Palmer et al.'s ANF;
    HyperANF does this with HLL registers whose layout differs per
    engine — KMV min-hash order statistics make the sketch DETERMINISTIC,
    so an approximation algorithm hash-matches an exact-reachability
    oracle applying the same estimator).

    Per round each node's sketch absorbs its (out-)neighbors' sketches:
    ``S_h(v) = min-k(S_{h-1}(v) ∪ ∪_u S_{h-1}(u))`` — KMV's merge is
    just "union then keep the k smallest", associative and exact, which
    is the whole trick. Nodes with < k reachable report EXACT counts;
    past k the classic ``(k-1)/x_(k)`` estimate (same arithmetic as
    :func:`ontoweaver_spark.textops.kmv_distinct`).

    Scale shape: sketches live as (node, hash) ROWS, never arrays — a
    hub absorbing 10^9 neighbor sketches fans into a distinct + rank
    shuffle keyed on the node (bounded to k rows per node per round),
    not an array build on one task. Per round: one edge join + distinct
    + one per-node rank window over <= (|E|+|V|)*k rows.
    """
    from pyspark.sql import Window

    e = _directed(edges, src_col, dst_col, symmetric=not directed, loops=False)

    nodes = _nodes(e, "s", "d")
    sketch = stats_reset_checkpoint(
        nodes.select("node", md5_int(F.col("node")).alias("h")), eager=False
    )
    w = Window.partitionBy("node").orderBy("h")
    for _ in range(rounds):
        gathered = (
            e.join(sketch.select(F.col("node").alias("d"), "h"), "d")
            .select(F.col("s").alias("node"), "h")
        )
        sketch = stats_reset_checkpoint(
            sketch.unionByName(gathered)
            .distinct()
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k)
            .drop("_r"),
            eager=False,
        )
    return (
        sketch.groupBy("node")
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("_kth"))
        .select(
            "node", "n_kept",
            F.when(F.col("n_kept") < k, F.col("n_kept"))
            .otherwise(
                F.floor(
                    F.lit(float(k - 1)) * F.lit(float(1 << 60))
                    / F.col("_kth").cast("double")
                    + F.lit(0.5)
                ).cast("long")
            )
            .alias("estimate"),
        )
    )


def densest_subgraph(
    edges: DataFrame,
    epsilon_pct: int = 10,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
    exact_rounds: int | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Densest-subgraph peel (Bahmani-Kumar-Vassilvitskii's MapReduce
    (2+2ε)-approximation). Each round removes EVERY node whose degree is
    <= (1+ε) * average degree — an exact integer comparison
    ``deg * V * 100 <= 2 * E * (100 + epsilon_pct)`` — which provably
    terminates in O(log n) rounds (vs Charikar's sequential
    one-node-at-a-time peel, unrunnable at 10^12 edges). The spam-farm /
    link-exchange extractor: the densest region of a host graph is
    almost never organic.

    Default mode returns the per-round trace ``(round, n_nodes, n_edges,
    density)`` with ``density = n_edges * scale DIV n_nodes`` measured
    BEFORE each round's peel — the best row's round is the
    approximation's certificate; re-run with ``exact_rounds=<that
    round>`` to materialize the surviving canonical edge list (the
    SQL-oracle-mirrorable mode, same pattern as k_core / k_truss).

    Scale shape: per round one degree aggregate, one 1-row stats
    broadcast, two anti-joins on the shrinking edge frame; the frame
    only shrinks and every frame passes ``stats_reset_checkpoint``.
    """
    e = _undirected(edges, src_col, dst_col, pin=stats_reset_checkpoint)
    trace = []
    spark = e.sparkSession

    def peel(e, i):
        deg = _degrees(e)
        st = deg.agg(
            F.count("*").alias("nv"), F.sum("deg").alias("deg2")
        ).first()
        nv, ne = (st["nv"] or 0), (st["deg2"] or 0) // 2
        if exact_rounds is None:
            trace.append((i - 1, nv, ne, (ne * scale) // nv if nv else 0))
        if nv == 0:
            return Converged(e)
        bad = deg.where(
            F.col("deg") * F.lit(nv) * 100 <= F.lit(2 * ne * (100 + epsilon_pct))
        ).select("node")
        bad = stats_reset_checkpoint(bad, eager=False)
        return stats_reset_checkpoint(
            e.join(bad.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(bad.withColumnRenamed("node", "v"), "v", "left_anti")
        )

    e = fixpoint(
        e, peel, max_rounds=max_rounds, exact_rounds=exact_rounds,
        error=f"densest_subgraph did not empty within {max_rounds} rounds",
    )
    if exact_rounds is not None:
        return e
    return spark.createDataFrame(
        trace, "round int, n_nodes long, n_edges long, density long"
    )


def metapath_counts(
    nodes: DataFrame,
    edges: DataFrame,
    max_hops: int = 2,
) -> DataFrame:
    """Typed 2-hop metapath census over the labeled KG ->
    ``(src_label, edge1, mid_label, edge2, dst_label, n_paths,
    n_src, n_dst)``: how many (A)-[r1]->(B)-[r2]->(C) instances each
    typed path shape has — the schema-level signal heterogeneous-graph
    embeddings (metapath2vec) and KG-quality audits start from, one
    level deeper than :func:`schema_graph`'s single-edge quotient.

    ``max_hops`` is fixed at 2 (the census of longer shapes explodes
    combinatorially at the SCHEMA level, not just the instance level —
    enumerate longer paths per-shape with graphquery.match_pattern).

    Scale shape: one mid-node self-join of the edge list (the only
    heavy join — keyed on the shared node id, hub fan-in bounded by the
    count aggregate's map-side partials), three label-projection joins,
    one tiny-key rollup.
    """
    if max_hops != 2:
        raise ValueError("metapath census is defined for max_hops=2; "
                         "use graphquery.match_pattern for longer shapes")
    lab = nodes.select(F.col("id"), F.col("label"))
    two = (
        edges.alias("e1")
        .join(edges.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .select(
            F.col("e1.src").alias("s"), F.col("e1.label").alias("edge1"),
            F.col("e1.dst").alias("m"), F.col("e2.label").alias("edge2"),
            F.col("e2.dst").alias("t"),
        )
    )
    return (
        two.join(lab.select(F.col("id").alias("s"), F.col("label").alias("src_label")), "s")
        .join(lab.select(F.col("id").alias("m"), F.col("label").alias("mid_label")), "m")
        .join(lab.select(F.col("id").alias("t"), F.col("label").alias("dst_label")), "t")
        .groupBy("src_label", "edge1", "mid_label", "edge2", "dst_label")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.count_distinct("s").alias("n_src"),
            F.count_distinct("t").alias("n_dst"),
        )
    )


def maximal_independent_set(
    edges: DataFrame,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    seed: int = 0,
    require_convergence: bool = True,
) -> DataFrame:
    """Luby-style maximal independent set over the undirected simple
    graph -> ``(node, sel_round)``: no two selected nodes are adjacent,
    and every unselected node has a selected neighbor. Each round, an
    ACTIVE node enters the set iff its priority key is strictly smaller
    than every active neighbor's; winners and their neighbors then
    deactivate. The priority is the 60-bit ``md5_int(seed ':' node)``
    padded to a 20-char string with the node id appended — a total order,
    so the classic randomized algorithm becomes a pure function of
    (graph, seed) that a DuckDB oracle can replay round by round.

    MIS is the standard parallel symmetry-breaker: a conflict-free
    scheduling set for in-place graph mutations (e.g. which entity-merge
    candidates may apply simultaneously without touching the same node).

    Scale shape (10^12-edge KG): the symmetrized edge list materializes
    once; each round is one join keyed on the neighbor + one min agg
    (map-side partials absorb hub fan-in) + two anti-joins, all keyed on
    node id. Luby's bound: O(log n) rounds with high probability — the
    per-round survivor frame is stats-reset-checkpointed so Catalyst
    re-estimates the shrinking actives instead of compounding. Raises
    after ``rounds`` non-empty rounds when ``require_convergence`` (the
    loud-failure convention shared with connected_components).
    """
    e = _directed(edges, src_col, dst_col, symmetric=True, loops=False)
    key = F.concat(
        F.lpad(
            md5_int(F.concat_ws(":", F.lit(str(seed)), F.col("node"))).cast("string"),
            20,
            "0",
        ),
        F.col("node"),
    )
    act = _nodes(e, "s").withColumn("k", key).transform(stats_reset_checkpoint)
    spark = edges.sparkSession

    def empty(st):
        return st[0].isEmpty()

    def luby(st, i):
        if empty(st):
            return Converged(st)
        act, selected = st
        nbr_min = (
            e.join(act.select(F.col("node").alias("d"), F.col("k").alias("bk")), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.min("bk").alias("mk"))
        )
        winners = (
            act.join(nbr_min, "node", "left")
            .where(F.col("mk").isNull() | (F.col("k") < F.col("mk")))
            .select("node")
            .transform(stats_reset_checkpoint)  # eager: reused by selected AND the two removals
        )
        selected = selected.unionByName(
            winners.withColumn("sel_round", F.lit(i))
        ).transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        hit = e.join(winners.select(F.col("node").alias("s")), "s").select(
            F.col("d").alias("node")
        )
        act = (
            act.join(winners, "node", "left_anti")
            .join(hit, "node", "left_anti")
            .transform(stats_reset_checkpoint)
        )
        return act, selected

    _, selected = fixpoint(
        (act, spark.createDataFrame([], "node string, sel_round int")), luby,
        max_rounds=rounds, done=empty,
        error=f"maximal_independent_set: active nodes remain after {rounds} rounds; "
        "raise `rounds` (Luby needs O(log n) w.h.p.)" if require_convergence else None,
    )
    return selected


def greedy_coloring(
    edges: DataFrame,
    rounds: int = 24,
    src_col: str = "src",
    dst_col: str = "dst",
    seed: int = 0,
    require_convergence: bool = True,
) -> DataFrame:
    """Jones–Plassmann greedy graph coloring over the undirected simple
    graph -> ``(node, color, col_round)``: a PROPER coloring (no edge is
    monochromatic) using at most ``max_degree + 1`` colors. Each round,
    an uncolored node whose priority key is strictly smaller than every
    uncolored neighbor's colors itself with the mex (smallest positive
    integer absent) of its already-colored neighbors' colors. The
    priority is the same deterministic 60-bit ``md5_int(seed ':' node)``
    total order as :func:`maximal_independent_set`, so the classic
    randomized algorithm is a pure function of (graph, seed) that a
    DuckDB oracle replays round by round.

    The readiness rule is exactly Luby's winner rule, so each round's
    newly-colored set is an independent set — simultaneous coloring is
    conflict-free by construction. Round count equals the longest
    priority-decreasing path: O(log n / log log n) expected for random
    priorities (Jones & Plassmann, SIAM J. Sci. Comput. 1993).

    The KG-construction use: coloring IS conflict-free batch scheduling —
    color classes of the entity-merge conflict graph are batches of
    merges that touch disjoint nodes and may apply concurrently; the
    color count is the schedule length.

    Scale shape (10^12-edge KG): the symmetrized edge list materializes
    once; each round is one neighbor-keyed join + min agg (map-side
    partials absorb hub fan-in) for readiness, one join + collect_set
    against the colored frame for the mex, and one anti-join — all keyed
    on node id, nothing collects. Per-round frames are
    stats-reset-checkpointed so Catalyst re-estimates the shrinking
    active set instead of compounding snapshots.
    """
    e = _directed(edges, src_col, dst_col, symmetric=True, loops=False)
    key = F.concat(
        F.lpad(
            md5_int(F.concat_ws(":", F.lit(str(seed)), F.col("node"))).cast("string"),
            20,
            "0",
        ),
        F.col("node"),
    )
    act = _nodes(e, "s").withColumn("k", key).transform(stats_reset_checkpoint)
    spark = edges.sparkSession
    colored = spark.createDataFrame([], "node string, color int, col_round int")
    mex = F.aggregate(
        F.col("_used"),
        F.lit(1),
        lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
    )
    # Round count (longest priority-decreasing path, ~18 at 5k nodes)
    # exceeds the live-round count of the sibling Luby loop, so per-round
    # job overhead dominates on small-per-round data: the whole round —
    # readiness, mex join, lazily-chained colored/act materialization —
    # runs as ONE eager checkpoint job; the `ready` subtree is evaluated
    # twice in-plan (semi-join probe + newly base), which is cheaper than
    # a second job. Measured 25 -> ~8 s at sf0.1 vs the eager-per-frame
    # form.
    def color_round(st, i):
        act, colored = st
        # ONE neighbor pass per round: the state frame carries uncolored
        # neighbors' keys AND colored neighbors' colors (a plan-level
        # union), so readiness (min uncolored key) and the mex input
        # (sorted colored-color set) come out of a single e-join +
        # aggregation instead of the former two joins + semi-join chain
        # (~8 exchanges per round down to ~5; min/collect_set both
        # ignore the other leg's NULLs, preserving the exact semantics).
        state = act.select(
            F.col("node").alias("d"), F.col("k").alias("bk"),
            F.lit(None).cast("int").alias("bc"),
        ).unionByName(
            colored.select(
                F.col("node").alias("d"),
                F.lit(None).cast("string").alias("bk"),
                F.col("color").alias("bc"),
            )
        )
        nbr = (
            e.join(state, "d")
            .groupBy(F.col("s").alias("node"))
            .agg(
                F.min("bk").alias("mk"),
                F.array_sort(F.collect_set("bc")).alias("_used"),
            )
        )
        newly = (
            act.join(nbr, "node", "left")
            .where(F.col("mk").isNull() | (F.col("k") < F.col("mk")))
            .select(
                "node",
                F.coalesce(mex, F.lit(1)).cast("int").alias("color"),
                F.lit(i).alias("col_round"),
            )
            .transform(stats_reset_checkpoint)  # the round's one eager job
        )
        # empty newly <=> empty act (an active min-key node is always
        # ready), so this trivial probe on the materialized checkpoint is
        # the convergence signal
        if newly.isEmpty():
            return Converged(st)
        colored = colored.unionByName(newly).transform(
            lambda _d: stats_reset_checkpoint(_d, eager=False)
        )
        act = act.join(newly.select("node"), "node", "left_anti").transform(
            lambda _d: stats_reset_checkpoint(_d, eager=False)
        )
        return act, colored

    _, colored = fixpoint(
        (act, colored), color_round, max_rounds=rounds,
        done=lambda st: st[0].isEmpty(),
        error=f"greedy_coloring: uncolored nodes remain after {rounds} rounds; "
        "raise `rounds` (the longest priority-decreasing path exceeds it)"
        if require_convergence else None,
    )
    return colored


def _component_pairs(
    edges: DataFrame, component_col: str, src_col: str, dst_col: str
) -> GroupedData:
    """Loop-free ``(_comp, a, b)`` string pairs grouped by component — the
    input of the bounded-component kernels below (each kernel dedups its
    own adjacency sets, so no distinct here)."""
    return (
        edges.select(
            F.col(component_col).alias("_comp"),
            F.col(src_col).cast("string").alias("a"),
            F.col(dst_col).cast("string").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("_comp")
    )


def greedy_coloring_local(
    edges: DataFrame,
    component_col: str,
    src_col: str = "src",
    dst_col: str = "dst",
    seed: int = 0,
) -> DataFrame:
    """Jones–Plassmann coloring for graphs whose components are BOUNDED
    and keyed (ER conflict blocks, dedup families) -> the same
    ``(node, color, col_round)`` as :func:`greedy_coloring`, computed in
    ONE Arrow-batched ``applyInPandas`` pass grouped by
    ``component_col`` instead of one distributed join round per
    priority level. The rule is the identical pure function of
    (graph, seed) — md5 priorities, Luby-winner readiness, mex color —
    so the outputs are equal row for row (property-tested), and the
    same unrolled-CTE oracle adjudicates both.

    Caller contract: ``component_col`` must partition the nodes — every
    edge is intra-component (both endpoints share the value), and no
    node appears under two component keys. ER blocking gives this for
    free (the block key IS the component key).

    Scale shape (10^12 edges): one shuffle keyed on the component, then
    the whole O(depth)-round iteration runs partition-locally on <= a
    few dozen nodes per group — the standard bounded-component escape
    from per-round global job scheduling (same reasoning as the
    two-phase skyline kernel). The distributed round loop remains the
    tool for unbounded components.
    """
    import pandas as pd  # noqa: F401 — applyInPandas ships pandas frames

    seed_s = str(seed)

    def _color_block(pdf):
        import hashlib

        import pandas as pd

        adj: dict = {}
        for a, b in zip(pdf["a"], pdf["b"]):
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)

        def key(n):
            h = int(hashlib.md5(f"{seed_s}:{n}".encode()).hexdigest()[:15], 16)
            return f"{h:020d}" + n

        active = set(adj)
        colored: dict = {}
        out = []
        rnd = 0
        while active:
            rnd += 1
            ready = {
                n
                for n in active
                if all(key(n) < key(m) for m in adj[n] if m in active)
            }
            for n in ready:
                used = {colored[m] for m in adj[n] if m in colored}
                c = 1
                while c in used:
                    c += 1
                colored[n] = c
                out.append((n, c, rnd))
            active -= ready
        return pd.DataFrame(out, columns=["node", "color", "col_round"])

    return _component_pairs(edges, component_col, src_col, dst_col).applyInPandas(
        _color_block, "node string, color int, col_round int"
    )


def bridges_local(
    edges: DataFrame,
    component_col: str,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bridge (cut-edge) detection for graphs whose components are
    BOUNDED and keyed -> canonical ``(src, dst)`` with ``src < dst``, one
    row per edge whose removal disconnects its component. The KG use:
    a bridge inside an entity cluster is a merge decision with NO
    corroborating second path — the fragile merges to re-verify first
    (removing any non-bridge still leaves the entities connected through
    independent evidence).

    Per group the classic Tarjan low-link rule runs partition-locally
    (an edge (parent, child) of the DFS tree is a bridge iff
    ``low[child] > disc[parent]``). SIMPLE-graph semantics, matching
    :func:`greedy_coloring`'s symmetrize+distinct: duplicate rows and
    reverse orientations collapse to one undirected edge.
    Deterministic: bridges are a pure graph property — no
    seed, no ordering sensitivity — so the DuckDB oracle can adjudicate
    with an INDEPENDENT formulation (recursive-CTE reachability over the
    per-edge-deleted graph: (u,v) is a bridge iff v is unreachable from
    u without it), not a rule replay.

    Same contract and scale shape as :func:`greedy_coloring_local`: one
    shuffle keyed on ``component_col`` (which must partition the nodes),
    then O(component) work per group — the bounded-component escape from
    global iteration. Unbounded components need the O(log n)-round
    spanning-tree + cycle-cover construction, deliberately out of scope.
    """
    import pandas as pd  # noqa: F401

    def _bridges(pdf):
        import pandas as pd

        adj: dict = {}
        for a, b in zip(pdf["a"], pdf["b"]):
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        disc: dict = {}
        low: dict = {}
        out = []
        t = [0]
        for root in sorted(adj):
            if root in disc:
                continue
            # iterative DFS (explicit stack: bounded components, but no
            # recursion-limit surprises either)
            stack = [(root, None, iter(sorted(adj[root])))]
            disc[root] = low[root] = t[0]
            t[0] += 1
            while stack:
                node, parent, it = stack[-1]
                advanced = False
                for nbr in it:
                    if nbr not in disc:
                        disc[nbr] = low[nbr] = t[0]
                        t[0] += 1
                        stack.append((nbr, node, iter(sorted(adj[nbr]))))
                        advanced = True
                        break
                    elif nbr != parent:
                        low[node] = min(low[node], disc[nbr])
                if not advanced:
                    stack.pop()
                    if parent is not None:
                        low[parent] = min(low[parent], low[node])
                        if low[node] > disc[parent]:
                            u, v = (
                                (parent, node) if parent < node else (node, parent)
                            )
                            out.append((u, v))
        return pd.DataFrame(out, columns=["src", "dst"])

    return _component_pairs(edges, component_col, src_col, dst_col).applyInPandas(
        _bridges, "src string, dst string"
    )


def articulation_points_local(
    edges: DataFrame,
    component_col: str,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Articulation-point (cut-vertex) detection for bounded keyed
    components -> ``(node)``, one row per node whose removal disconnects
    its component — the biconnectivity twin of :func:`bridges_local`
    and the KG hub-fragility question: which single entity holds its
    cluster together (remove it and the merge evidence falls apart)?

    Same Tarjan pass as the bridge kernel: a non-root node is an
    articulation point iff some DFS child has ``low[child] >=
    disc[node]``; the root iff it has >= 2 DFS children. Same
    simple-graph semantics and ``component_col`` contract; same
    independent-oracle adjudication (node n is a cut vertex iff some
    neighbor pair becomes mutually unreachable without n).
    """
    import pandas as pd  # noqa: F401

    def _cuts(pdf):
        import pandas as pd

        adj: dict = {}
        for a, b in zip(pdf["a"], pdf["b"]):
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        disc: dict = {}
        low: dict = {}
        cuts = set()
        t = [0]
        for root in sorted(adj):
            if root in disc:
                continue
            root_children = 0
            stack = [(root, None, iter(sorted(adj[root])))]
            disc[root] = low[root] = t[0]
            t[0] += 1
            while stack:
                node, parent, it = stack[-1]
                advanced = False
                for nbr in it:
                    if nbr not in disc:
                        disc[nbr] = low[nbr] = t[0]
                        t[0] += 1
                        stack.append((nbr, node, iter(sorted(adj[nbr]))))
                        advanced = True
                        if node == root:
                            root_children += 1
                        break
                    elif nbr != parent:
                        low[node] = min(low[node], disc[nbr])
                if not advanced:
                    stack.pop()
                    if parent is not None:
                        low[parent] = min(low[parent], low[node])
                        if parent != root and low[node] >= disc[parent]:
                            cuts.add(parent)
            if root_children >= 2:
                cuts.add(root)
        return pd.DataFrame(sorted(cuts), columns=["node"])

    return _component_pairs(edges, component_col, src_col, dst_col).applyInPandas(_cuts, "node string")


def two_edge_components_local(
    edges: DataFrame,
    component_col: str,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """2-edge-connected components for bounded keyed components ->
    ``(node, tecc)`` where ``tecc`` is the minimum node id of the
    node's 2-edge-connected class: remove every bridge (Tarjan low-link,
    the :func:`bridges_local` rule) and label the connected components
    of what remains. The KG reading: a 2ecc is a cluster of entity
    merges where EVERY link has a corroborating second path — the
    corroborated core — while each bridge endpoint outside the core is
    its own singleton class.

    Same contract and scale shape as :func:`bridges_local` /
    :func:`articulation_points_local`: one shuffle keyed on
    ``component_col`` (which must partition the nodes), O(component)
    work per group, simple-graph semantics. Deterministic pure graph
    property — the DuckDB oracle composes its independent per-edge-
    deleted-reachability bridge characterization with a recursive
    min-label closure over the surviving edges.
    """
    import pandas as pd  # noqa: F401

    def _tecc(pdf):
        import pandas as pd

        adj: dict = {}
        for a, b in zip(pdf["a"], pdf["b"]):
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        disc: dict = {}
        low: dict = {}
        bridges: set = set()
        t = [0]
        for root in sorted(adj):
            if root in disc:
                continue
            stack = [(root, None, iter(sorted(adj[root])))]
            disc[root] = low[root] = t[0]
            t[0] += 1
            while stack:
                node, parent, it = stack[-1]
                advanced = False
                for nbr in it:
                    if nbr not in disc:
                        disc[nbr] = low[nbr] = t[0]
                        t[0] += 1
                        stack.append((nbr, node, iter(sorted(adj[nbr]))))
                        advanced = True
                        break
                    elif nbr != parent:
                        low[node] = min(low[node], disc[nbr])
                if not advanced:
                    stack.pop()
                    if parent is not None:
                        low[parent] = min(low[parent], low[node])
                        if low[node] > disc[parent]:
                            bridges.add(frozenset((parent, node)))
        # BFS over the bridge-removed graph; label = min node per class
        seen: set = set()
        out = []
        for start in sorted(adj):
            if start in seen:
                continue
            comp = [start]
            seen.add(start)
            q = [start]
            while q:
                n0 = q.pop()
                for nbr in adj[n0]:
                    if nbr not in seen and frozenset((n0, nbr)) not in bridges:
                        seen.add(nbr)
                        comp.append(nbr)
                        q.append(nbr)
            lab = min(comp)
            out.extend((n0, lab) for n0 in comp)
        return pd.DataFrame(sorted(out), columns=["node", "tecc"])

    return _component_pairs(edges, component_col, src_col, dst_col).applyInPandas(
        _tecc, "node string, tecc string"
    )


def min_spanning_forest(
    edges: DataFrame,
    rounds: int = 10,
    jump_rounds: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    require_convergence: bool = True,
) -> DataFrame:
    """Borůvka minimum spanning forest -> the chosen edges
    ``(src, dst, weight, msf_round)`` with ``src < dst`` canonical
    orientation. Ties are broken by the lexicographic composite
    ``(weight, src, dst)`` — a strict total order over edges, so the MSF
    is UNIQUE and the algorithm is a pure function of the graph (the
    classic distinct-weights argument, without requiring distinct
    weights).

    The KG use: a spanning forest is the cheapest skeleton that keeps
    every entity cluster connected — the standard backbone extraction
    for visualizing / sparsifying hub-dense co-mention graphs, and the
    correctness core of single-linkage clustering over similarity edges
    (cut the forest at a threshold = single-linkage dendrogram).

    Borůvka round: every component selects its minimum incident
    OUTGOING edge (components shrink >= 2x per round, so <= log2 n
    rounds); the selected edges join the forest, and components contract
    by pointer-doubling over the selection pseudo-forest (each root is a
    mutual-choice 2-cycle, broken toward the smaller id — after the
    break, parents form a forest whose depth pointer-doubling flattens
    in <= log2(depth) inner jumps).

    Scale shape (10^12-edge graph): each outer round is two
    comp-relabel joins keyed on the node, one min_by aggregation keyed
    on the component (map-side partials absorb hub fan-in), and the
    inner doubling joins keyed on the component — every frame
    stats-reset-checkpointed so Catalyst re-estimates the shrinking
    actives. The per-round driver sync is one count on the REMAINING
    inter-component edge set (the k_hop_neighborhood convention).
    """
    u, v, w = F.col(src_col), F.col(dst_col), F.col(weight_col)
    e = (
        edges.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v"), w.alias("w")
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    comp = (
        _nodes(e, "u", "v")
        .withColumn("comp", F.col("node"))
        .transform(stats_reset_checkpoint)
    )
    spark = edges.sparkSession
    forest = spark.createDataFrame(
        [], "src string, dst string, weight long, msf_round int"
    )
    order_key = F.struct(F.col("w"), F.col("u"), F.col("v"))

    def jump(par, _):
        hop = par.select(F.col("c").alias("p"), F.col("p").alias("pp"))
        nxt = (
            par.join(hop, "p")
            .select("c", F.col("pp").alias("p"))
            .transform(stats_reset_checkpoint)
        )
        flat = (
            nxt.join(par.select("c", F.col("p").alias("old")), "c")
            .where(F.col("p") != F.col("old"))
            .isEmpty()
        )
        return Converged(nxt) if flat else nxt

    def boruvka(st, i):
        comp, forest = st
        ec = (
            e.join(comp.select(F.col("node").alias("u"), F.col("comp").alias("cu")), "u")
            .join(comp.select(F.col("node").alias("v"), F.col("comp").alias("cv")), "v")
            .where(F.col("cu") != F.col("cv"))
            .transform(stats_reset_checkpoint)  # eager: counted + two downstream uses
        )
        if ec.isEmpty():
            return Converged(st)
        sym = ec.select(
            F.col("cu").alias("c"), F.col("cv").alias("oc"), "u", "v", "w"
        ).unionByName(
            ec.select(F.col("cv").alias("c"), F.col("cu").alias("oc"), "u", "v", "w")
        )
        choice = (
            sym.groupBy("c")
            .agg(
                F.min_by(F.struct("oc", "u", "v", "w"), order_key).alias("pick")
            )
            .select("c", "pick.oc", "pick.u", "pick.v", "pick.w")
            .transform(stats_reset_checkpoint)  # eager: forest + mutual probe + parent map
        )
        forest = forest.unionByName(
            choice.select(
                F.col("u").alias("src"),
                F.col("v").alias("dst"),
                F.col("w").alias("weight"),
            )
            .distinct()
            .withColumn("msf_round", F.lit(i))
        ).transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        back = choice.select(F.col("oc").alias("c"), F.col("c").alias("oc2"))
        parent = (
            choice.join(back, ["c"], "left")
            .select(
                "c",
                F.when(
                    (F.col("oc2") == F.col("oc")) & (F.col("c") < F.col("oc")),
                    F.col("c"),
                )
                .otherwise(F.col("oc"))
                .alias("p"),
            )
            .groupBy("c")
            .agg(F.min("p").alias("p"))
        )
        # components with no outgoing edge this round keep themselves
        par = (
            comp.select(F.col("comp").alias("c"))
            .distinct()
            .join(parent, "c", "left")
            .select("c", F.coalesce("p", "c").alias("p"))
            .transform(stats_reset_checkpoint)
        )
        par = fixpoint(
            par, jump, max_rounds=jump_rounds,
            error=f"min_spanning_forest: pointer doubling not flat after "
            f"{jump_rounds} jumps; raise jump_rounds",
        )
        comp = (
            comp.join(par.select(F.col("c").alias("comp"), "p"), "comp")
            .select("node", F.col("p").alias("comp"))
            .transform(stats_reset_checkpoint)
        )
        return comp, forest

    _, forest = fixpoint(
        (comp, forest), boruvka, max_rounds=rounds,
        error=f"min_spanning_forest: inter-component edges remain after {rounds} "
        "Borůvka rounds; raise rounds (needs <= log2 n)"
        if require_convergence else None,
    )
    return forest


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 6,
    exact_rounds: bool = True,
    src_col: str = "src",
    dst_col: str = "dst",
    time_col: str = "t",
) -> DataFrame:
    """Time-respecting reachability -> ``(node, arrival)``: the earliest
    time each node can be reached from the seed set when a path may only
    use an edge whose timestamp is >= the arrival time at its source
    (waiting is free). The crawl-lineage question: given link-discovery
    edges stamped with crawl time, when could a URL first have been
    discovered from the seeds?

    ``seeds`` is ``(node, start)``. Each round relaxes one more hop:
    ``arrival'(v) = min(arrival(v), min {t : (u,v,t), t >= arrival(u)})``.
    The relaxation is monotone (arrivals only decrease), so with
    ``exact_rounds=True`` the output after exactly ``rounds`` rounds is a
    pure function of the input — the unrolled-oracle mode, reaching every
    node whose optimal temporal path has <= ``rounds`` hops. With
    ``exact_rounds=False`` it runs to the fixpoint ((count, sum) of the
    arrival frame) and raises on round exhaustion, like shortest_paths.

    Scale shape (10^12-edge crawl graph): each round is one join keyed
    on the edge source + one min agg keyed on the destination — hub
    fan-in lands in the agg's map-side partials. The arrival frame is
    stats-reset-checkpointed per round (the compounding-estimates trap).
    """
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v"),
        F.col(time_col).cast("long").alias("t"),
    ).localCheckpoint(eager=False)
    arrival = (
        seeds.select(F.col("node"), F.col("start").cast("long").alias("arrival"))
        .groupBy("node")
        .agg(F.min("arrival").alias("arrival"))
        .transform(stats_reset_checkpoint)
    )

    def relax(arrival, _):
        hop = (
            e.join(arrival.select(F.col("node").alias("u"), "arrival"), "u")
            .where(F.col("t") >= F.col("arrival"))
            .select(F.col("v").alias("node"), F.col("t").alias("arrival"))
        )
        return arrival.unionByName(hop).groupBy("node").agg(F.min("arrival").alias("arrival"))

    return fixpoint(
        arrival, relax, max_rounds=rounds, exact_rounds=rounds if exact_rounds else None,
        probe="arrival",
        error=f"temporal_reachability: arrivals still relaxing after {rounds} rounds",
    )


def butterfly_count(
    edges: DataFrame, left_col: str = "l", right_col: str = "r"
) -> DataFrame:
    """Exact butterfly (2x2 biclique) count of a bipartite graph -> one
    row ``(n_edges, butterflies)``. Butterflies are the bipartite
    analogue of triangles — the density signal for doc-token / host-lang
    incidence graphs (a butterfly = two docs sharing two tokens).

    Wedge formula: butterflies = sum over pairs (a,b) on ONE side of
    C(shared_neighbors, 2). The pair-generating self-join explodes
    quadratically on hot pivot vertices, so the pivot side is CHOSEN:
    both sides' total wedge counts (sum C(deg,2)) are computed in one
    tiny aggregate and the join pivots on the side generating FEWER
    wedges — the side-selection trick of exact butterfly counting
    (Sanei-Mehri et al., KDD'18), worth orders of magnitude when one
    side holds the hubs (every doc touches the hot token, but no doc
    holds 10^8 tokens). The count is pivot-invariant, so the choice is
    a pure physical decision; wedge pairs then flow through one
    map-side-combined groupBy.
    """
    e = (
        edges.select(
            F.col(left_col).cast("string").alias("l"),
            F.col(right_col).cast("string").alias("r"),
        )
        .where(F.col("l").isNotNull() & F.col("r").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    wl, wr = (
        e.groupBy("l").agg(F.count("*").alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w")),
        e.groupBy("r").agg(F.count("*").alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w")),
    )
    row = wl.crossJoin(wr.select(F.col("w").alias("w2"))).first()
    pivot, other = ("r", "l") if (row["w"] or 0) > (row["w2"] or 0) else ("l", "r")
    a = e.select(F.col(pivot).alias("p"), F.col(other).alias("a"))
    b = e.select(F.col(pivot).alias("p"), F.col(other).alias("b"))
    wedges = a.join(b, "p").where(F.col("a") < F.col("b"))
    return (
        wedges.groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .agg(
            F.lit(None).alias("_"),  # keep agg non-empty under 0 wedges
            F.coalesce(
                F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("long")), F.lit(0)
            ).alias("butterflies"),
        )
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .select("n_edges", "butterflies")
    )


def neighbor_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 2,
    max_degree: int | None = None,
    min_jaccard_ppm: int = 0,
) -> DataFrame:
    """Node-pair similarity by UNDIRECTED neighborhood Jaccard ->
    ``(node_a, node_b, common, degree_a, degree_b, jaccard_ppm)`` for
    pairs sharing >= ``min_common`` neighbors (node_a < node_b). The
    structural-equivalence signal behind "these two entities are
    probably the same": near-identical neighborhoods.

    ``jaccard_ppm`` is integer parts-per-million (``common * 1_000_000
    DIV union``) — exact and engine-identical, where a float division
    could differ in the last bit across engines and break hash checks.

    Scale shape: the pair generator is a self-join on the shared
    neighbor, which explodes as C(deg,2) on hub nodes — ``max_degree``
    drops hub MIDPOINTS from the wedge step (a node adjacent to
    everything certifies no similarity; the standard exact-similarity
    mitigation, same role as the stop-shingle df cap in dedup.py). With
    it set, degrees and the Jaccard denominator are computed on the
    SAME capped neighbor frame, so the output is exactly "Jaccard of
    the capped neighborhoods" — a well-defined, oracle-checkable
    semantic rather than a silent approximation.
    """
    und = _directed(edges, src_col, dst_col, symmetric=True, loops=False, pin=None)
    if max_degree is not None:
        nbr_deg = und.groupBy("d").agg(F.count("*").alias("nd"))
        und = (
            und.join(nbr_deg.where(F.col("nd") <= max_degree), "d")
            .select("s", "d")
        )
    und = und.localCheckpoint(eager=False)
    deg = und.groupBy("s").agg(F.count("*").alias("deg"))
    pairs = (
        und.select(F.col("d"), F.col("s").alias("a"))
        .join(und.select(F.col("d"), F.col("s").alias("b")), "d")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
        .where(F.col("common") >= min_common)
    )
    out = (
        pairs.join(deg.select(F.col("s").alias("a"), F.col("deg").alias("degree_a")), "a")
        .join(deg.select(F.col("s").alias("b"), F.col("deg").alias("degree_b")), "b")
        # BIGINT DIV: exact, engine-identical (float-divide-then-floor can
        # land one off when the quotient sits on an integer boundary)
        .withColumn(
            "jaccard_ppm",
            F.expr("common * CAST(1000000 AS BIGINT) DIV (degree_a + degree_b - common)"),
        )
        .where(F.col("jaccard_ppm") >= min_jaccard_ppm)
    )
    return out.select(
        F.col("a").alias("node_a"), F.col("b").alias("node_b"),
        "common", "degree_a", "degree_b", "jaccard_ppm",
    )


def transitive_reduction(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 12,
) -> DataFrame:
    """Minimum equivalent DAG -> the input edges minus every edge
    implied by a longer path: (u,v) is dropped iff some u -> x -> ... -> v
    path of length >= 2 exists. The lineage / ontology cleanup op: a
    crawl-derived subsumption graph is full of shortcut edges that
    bloat every downstream closure and traversal.

    Built from the closure, not per-edge search: one doubling-closure
    (log-depth rounds, ontology.subclass_closure), one self-join
    composing closure o closure = "reachable in >= 2 edges", one
    left-anti join back to the edge list. All set-algebra on (src, dst)
    pairs — no per-edge path probing, no driver loop over edges.
    Input must be a DAG (same contract as hierarchy_levels; cycles make
    transitive reduction non-unique and are the caller's error).
    """
    from .ontology import subclass_closure

    e = _directed(edges, src_col, dst_col, cast="string")
    closure = subclass_closure(
        e, child_col="s", parent_col="d", max_rounds=max_rounds
    )
    via2 = (
        closure.select(F.col("descendant").alias("s"), F.col("ancestor").alias("m"))
        .join(
            closure.select(F.col("descendant").alias("m"), F.col("ancestor").alias("d")),
            "m",
        )
        .select("s", "d")
        .distinct()
    )
    return e.join(via2, ["s", "d"], "left_anti").select(
        F.col("s").alias("src"), F.col("d").alias("dst")
    )


def wl_colors(
    edges: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement -> ``(node,
    color)``: every node's color is a 60-bit hash of its radius-r
    neighborhood structure. Nodes with equal colors are structurally
    indistinguishable at depth r — the classic structural fingerprint
    for "same role in the graph" dedup/blocking and graph-isomorphism
    screening (round 1 separates by degree, round 2 by degree-of-
    neighbors multiset, ...).

    The per-round multiset of neighbor colors is folded with a
    COMMUTATIVE hash — sum of (md5-int mod 2^31-1) plus the count —
    instead of the textbook sort-and-concatenate: a hub with 10^8
    neighbors would otherwise collect a gigabyte string in one task,
    while a sum/count pair aggregates map-side with bounded state and
    no skew hazard (values < 2^31 keep the BIGINT sum exact up to
    ~2^32-degree hubs; commutativity makes the result independent of
    partitioning and aggregation order, so it hash-matches a SQL
    oracle). The trade is hash strength — a sum can collide where the
    sorted multiset would not — acceptable for a refinement heuristic
    and documented here.
    """
    und = _directed(edges, src_col, dst_col, symmetric=True, loops=False)
    colors = _nodes(und, "s").withColumn("color", md5_int(F.lit("wl0")))
    for _ in range(rounds):
        nbr = und.join(
            colors.select(F.col("node").alias("d"), F.col("color").alias("nc")), "d"
        )
        folded = nbr.groupBy(F.col("s").alias("node")).agg(
            F.sum(F.pmod(F.col("nc"), F.lit(2147483647))).alias("msum"),
            F.count("*").alias("mcnt"),
        )
        colors = (
            colors.join(folded, "node", "left")
            .select(
                "node",
                md5_int(
                    F.concat_ws(
                        "|",
                        F.col("color").cast("string"),
                        F.coalesce(F.col("msum"), F.lit(0)).cast("string"),
                        F.coalesce(F.col("mcnt"), F.lit(0)).cast("string"),
                    )
                ).alias("color"),
            )
            .transform(lambda d: stats_reset_checkpoint(d, eager=False))
        )
    return colors


def core_numbers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    exact_rounds: int | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """FULL core decomposition -> ``(node, coreness)`` for every node of
    the undirected simple graph (complements :func:`k_core`, which
    extracts one fixed-k core): the density profile a web-KG curation
    pass ranks every entity by, not just thresholds.

    Distributed h-index iteration (Montresor-De Pellegrini-Miorandi):
    start at est = degree; each round replaces est with the h-index of
    the neighbors' ests (max h with >= h neighbors at est >= h). The
    sequence is monotone non-increasing and converges exactly to the
    core number — no peeling order, no driver-side loop over k.

    Skew shape: the h-index is NOT computed by ranking each node's
    neighbor list (a hub would drag 10^8 rows through one window
    partition). Instead neighbor ests aggregate to (node, est, count)
    histograms first — per-node rows bounded by DISTINCT est values
    (<= max coreness, tiny), with the heavy fan-in absorbed by map-side
    partial counts — then one small cumulative window over the
    histogram yields h = max(min(est, #nbrs_at_est_or_above)).

    ``exact_rounds=r`` runs exactly r rounds (the oracle-unroll mode,
    same contract as k_core); default runs to fixpoint and raises
    loudly past ``max_rounds``.
    """
    und = _mirrored(_undirected(edges, src_col, dst_col, pin=None))
    est = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("est")
    ).transform(stats_reset_checkpoint)

    w = (
        Window.partitionBy("node")
        .orderBy(F.desc("e"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def h_index(est, _):
        hist = (
            und.join(est.select(F.col("node").alias("v"), F.col("est").alias("e")), "v")
            .groupBy(F.col("u").alias("node"), "e")
            .agg(F.count("*").alias("c"))
        )
        hidx = (
            hist.withColumn("cum", F.sum("c").over(w))
            .groupBy("node")
            .agg(F.max(F.least(F.col("e"), F.col("cum"))).alias("h"))
        )
        return est.join(hidx, "node", "left").select(
            "node", F.least(F.col("est"), F.coalesce(F.col("h"), F.lit(0))).alias("est")
        )

    est = fixpoint(
        est, h_index, max_rounds=max_rounds, exact_rounds=exact_rounds, probe="est",
        error=f"core_numbers: ests still dropping after {max_rounds} rounds",
    )
    return est.select("node", F.col("est").alias("coreness"))


def maximal_matching(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    exact_rounds: int | None = None,
    max_rounds: int = 30,
    cost_col: str | None = None,
) -> DataFrame:
    """Greedy MAXIMAL matching -> ``(u, v)`` edge subset where no two
    chosen edges share a vertex and no remaining edge could be added.
    The one-to-one constraint of entity alignment: after candidate
    scoring, each entity may merge with at most ONE partner, and a
    maximal matching picks a deterministic conflict-free set.

    Luby-style local-minimum rounds (same family as
    :func:`maximal_independent_set`): every surviving edge gets a
    deterministic md5 priority; an edge joins the matching iff its
    priority is the minimum among ALL edges at BOTH its endpoints
    (two tiny per-vertex min-aggregates + one join — no sequential
    greedy scan), then matched vertices leave the graph. Expected
    O(log n) rounds; every step is hash-deterministic, so the result
    is partitioning- and engine-independent (oracle-checkable).

    ``exact_rounds=r`` unrolls exactly r rounds for the SQL oracle;
    default runs until no edges survive and raises past ``max_rounds``.

    ``cost_col`` makes the matching WEIGHTED-greedy (the classic
    1/2-approximation of minimum-cost maximal matching): priorities
    order by the edge's integer cost FIRST (0 <= cost < 2^3 — an ER
    edit distance, not a float score), hash only breaking ties, so a
    distance-0 duplicate pair always beats a distance-2 one competing
    for the same entity. Encoded as ``cost * 2^60 + md5`` — one BIGINT,
    same oracle shape as the unweighted form.
    """
    u, v = F.col(src_col), F.col(dst_col)
    keep = [F.least(u, v).alias("u"), F.greatest(u, v).alias("v")]
    if cost_col is not None:
        keep.append(F.col(cost_col))
    e = (
        edges.select(*keep)
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(*([F.min(cost_col).alias(cost_col)] if cost_col else [F.count("*").alias("_c")]))
        .drop("_c")
        .withColumn("_h", md5_int(F.concat_ws("->", F.col("u"), F.col("v"))))
        .withColumn(
            "p",
            F.col("_h") if cost_col is None
            # the range guard is load-bearing, not just documentation:
            # cost >= 8 overflows signed 64-bit (8 * 2^60 == 2^63) and a
            # negative cost wraps — either silently yields a
            # wrong-but-plausible matching. assert_true evaluates in-plan
            # (null when passing, runtime error when not) and coalesces
            # to an additive zero, so no extra job is spent on the check.
            else F.col(cost_col).cast("long") * F.lit(1 << 60) + F.col("_h")
            + F.coalesce(
                F.assert_true(
                    (F.col(cost_col) >= 0) & (F.col(cost_col) < 8),
                    F.concat(
                        F.lit("maximal_matching: cost_col out of range [0, 8): "),
                        F.col(cost_col).cast("string"),
                    ),
                ).cast("long"),
                F.lit(0),
            ),
        )
        .drop("_h")
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession

    def match_round(st, _):
        e, matched = st
        if exact_rounds is None and e.rdd.isEmpty():
            return Converged(st)
        # per-VERTEX min over every incident edge: a vertex sits in the u
        # column for some edges and the v column for others (canonical
        # least/greatest order), so the min must be taken over the union
        # of both endpoint projections, not per column
        vmin = (
            e.select(F.col("u").alias("node"), "p")
            .unionAll(e.select(F.col("v").alias("node"), "p"))
            .groupBy("node")
            .agg(F.min("p").alias("pm"))
        )
        sel = (
            e.join(vmin.select(F.col("node").alias("u"), F.col("pm").alias("pu")), "u")
            .join(vmin.select(F.col("node").alias("v"), F.col("pm").alias("pv")), "v")
            .where((F.col("p") == F.col("pu")) & (F.col("p") == F.col("pv")))
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        matched = matched.unionByName(sel).transform(
            lambda d: stats_reset_checkpoint(d, eager=False)
        )
        touched = _nodes(sel, "u", "v")
        e = (
            e.join(touched.select(F.col("node").alias("u")), "u", "left_anti")
            .join(touched.select(F.col("node").alias("v")), "v", "left_anti")
            .select("u", "v", "p")
            .transform(stats_reset_checkpoint)
        )
        return e, matched

    _, matched = fixpoint(
        (e, spark.createDataFrame([], "u string, v string")), match_round,
        max_rounds=max_rounds, exact_rounds=exact_rounds,
        error=f"maximal_matching: edges remain after {max_rounds} rounds",
    )
    return matched


def diameter_double_sweep(
    edges: DataFrame,
    seed: str,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Double-sweep diameter LOWER bound -> one row ``(seed, far_node,
    far_dist, diameter_lb)``: BFS from ``seed`` to its farthest
    reachable node (ties broken by node id — deterministic), then BFS
    from THAT node; its eccentricity is the classic double-sweep bound,
    exact on trees and near-tight on web-shaped graphs where one exact
    diameter would cost an all-pairs sweep.

    Two :func:`landmark_distances` runs (undirected, ``rounds`` hops
    each — rounds must cover the true eccentricity or the bound is
    silently short, so callers size it like k_hop) plus two single-row
    argmax aggregates. Nothing all-pairs, nothing collected beyond the
    two one-row frames.
    """
    seeds = edges.sparkSession.createDataFrame([(seed,)], "node string")
    d1 = landmark_distances(
        edges, seeds, rounds=rounds, src_col=src_col, dst_col=dst_col,
        directed=False,
    )
    far1 = d1.agg(
        F.min_by(
            F.struct(F.col("node"), F.col("dist")),
            F.struct((-F.col("dist")).alias("nd"), F.col("node")),
        ).alias("b")
    ).select(F.col("b.node").alias("far_node"), F.col("b.dist").alias("far_dist"))
    seeds2 = far1.select(F.col("far_node").alias("node"))
    d2 = landmark_distances(
        edges, seeds2, rounds=rounds, src_col=src_col, dst_col=dst_col,
        directed=False,
    )
    lb = d2.agg(F.max("dist").alias("diameter_lb"))
    return (
        far1.crossJoin(lb)
        .select(
            F.lit(seed).alias("seed"), "far_node", "far_dist", "diameter_lb"
        )
    )


def reciprocity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Edge reciprocity of a directed graph -> one row ``(n_edges,
    n_reciprocal, reciprocity_ppm)``: the fraction of directed edges
    whose reverse also exists (self-loops excluded, duplicates
    collapsed). The link-spam / social-vs-hierarchical signal of a web
    host graph — near 0 for citation-like link structure, near 10^6 for
    mutual-link farms.

    One distinct + one self-semi-join on the flipped pair + two counts;
    the ppm is exact BIGINT division so the one-row result hash-matches
    any engine.
    """
    e = _directed(edges, src_col, dst_col, loops=False)
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    rec = e.join(rev, ["s", "d"], "left_semi")
    return (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(rec.agg(F.count("*").alias("n_reciprocal")))
        .select(
            "n_edges",
            "n_reciprocal",
            F.expr(
                "CASE WHEN n_edges = 0 THEN 0 "
                "ELSE n_reciprocal * CAST(1000000 AS BIGINT) DIV n_edges END"
            ).alias("reciprocity_ppm"),
        )
    )


def katz_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 4,
    alpha_inv: int = 16,
    scale: int = 1_000_000,
) -> DataFrame:
    """Truncated Katz centrality -> ``(node, katz)``: katz(v) = sum over
    path lengths L <= ``iterations`` of (1/alpha_inv)^L * paths_L(v),
    fixed-point-scaled by ``scale``. The 'influence including indirect
    links' rank that degree misses and PageRank normalizes away —
    truncation makes it a pure path-count expression, well-defined on
    any graph (no spectral-radius convergence condition to certify).

    ALL arithmetic is BIGINT (contribution = katz_t DIV alpha_inv summed
    over in-edges), same exactness argument as pagerank_fixed_point:
    integer addition commutes, so the result is independent of partition
    and aggregation order and hash-matches a SQL oracle. Each round is
    one edge join + one map-side-combined sum keyed on the destination.
    """
    e = _directed(edges, src_col, dst_col, loops=False)
    nodes = _nodes(e, "s", "d", pin=_lazy_pin)
    katz = nodes.withColumn("katz", F.lit(scale).cast("long"))
    base = katz
    for _ in range(iterations):
        inbound = (
            e.join(katz.select(F.col("node").alias("s"), "katz"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum(F.expr(f"katz DIV {int(alpha_inv)}")).alias("inb"))
        )
        katz = (
            base.join(inbound, "node", "left")
            .select(
                "node",
                (F.col("katz") + F.coalesce(F.col("inb"), F.lit(0))).alias("katz"),
            )
            .transform(lambda d: stats_reset_checkpoint(d, eager=False))
        )
    return katz


def square_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Exact 4-cycle (square) count of the undirected simple graph ->
    one row ``(n_edges, wedges, squares)``. Squares = sum over node
    pairs (a,c) of C(#common_neighbors, 2), halved — every 4-cycle is
    counted once from each of its two diagonals. The densification /
    spam-template motif after triangles: link farms are square-rich
    even when triangle-poor (bipartite-ish templates have NO triangles
    at all).

    Same wedge shape as :func:`neighbor_jaccard`: one self-join on the
    shared midpoint + one pair-keyed count with map-side partials; the
    hot-midpoint hazard and its mitigation are that function's
    ``max_degree`` — here the count must be exact, so it is documented
    rather than capped.
    """
    und = _undirected(edges, src_col, dst_col, pin=None)
    both = _mirrored(und)
    wedge_pairs = (
        both.select(F.col("v").alias("m"), F.col("u").alias("a"))
        .join(both.select(F.col("v").alias("m"), F.col("u").alias("c")), "m")
        .where(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count("*").alias("w"))
    )
    return (
        wedge_pairs.agg(
            F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("wedges"),
            F.coalesce(
                F.sum(F.expr("w * (w - 1) DIV 2")), F.lit(0)
            ).cast("long").alias("sq2"),
        )
        .crossJoin(und.agg(F.count("*").alias("n_edges")))
        .select(
            "n_edges", "wedges", F.expr("sq2 DIV 2").alias("squares")
        )
    )


def largest_component(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Members of the LARGEST connected component -> ``(vertex,
    component, size)`` sorted nowhere (a set). The crawl-graph
    normalization step: web link graphs are one giant component plus
    debris, and most downstream analytics (PageRank, diameters,
    embeddings) want the giant component only.

    Star-round CC (dedup.connected_components, O(log n) rounds) + a
    one-row argmax over the component-size aggregate (ties broken by
    component label — deterministic) + one semi-join. The full vertex
    set never collects; the only driver-sized object is the 1-row
    winner.
    """
    from .dedup import connected_components

    cc = connected_components(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a") != F.col("b"))
    ).localCheckpoint(eager=False)
    sizes = cc.groupBy("component").agg(F.count("*").alias("size"))
    best = F.broadcast(
        sizes.agg(
            F.min_by(
                F.struct("component", "size"),
                F.struct((-F.col("size")).alias("ns"), F.col("component")),
            ).alias("b")
        ).select(F.col("b.component").alias("component"), F.col("b.size").alias("size"))
    )
    return cc.join(best, "component").select("vertex", "component", "size")


def wl_graph_hash(
    edges: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Whole-graph WL fingerprint -> one row ``(n_nodes, graph_hash)``:
    the md5-int of the SORTED multiset of :func:`wl_colors` colors
    (rendered as a comma-joined string of ``color:count`` pairs). Two
    graphs with different fingerprints are guaranteed non-isomorphic
    (the 1-WL test); equal fingerprints mean 1-WL-equivalent — the
    snapshot-drift / dedup check for graph BUILDS, the way a text
    fingerprint checks documents.

    The color histogram (distinct colors, typically << |V|) is the only
    thing sorted — an aggregate of the per-color counts, never the node
    table.
    """
    hist = (
        wl_colors(edges, rounds=rounds, src_col=src_col, dst_col=dst_col)
        .groupBy("color")
        .agg(F.count("*").alias("c"))
    )
    return hist.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_nodes"),
        md5_int(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.concat_ws(":", F.col("color"), F.col("c")))
                ),
                ",",
            )
        ).alias("graph_hash"),
    )


def truss_numbers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    exact_rounds: int | None = None,
    max_rounds: int = 60,
) -> DataFrame:
    """FULL truss decomposition -> ``(u, v, trussness)`` for every edge
    of the undirected simple graph (complements :func:`k_truss`, which
    extracts one fixed-k truss): trussness(e) = the largest k such that
    e survives in the k-truss, the per-EDGE density rank a web-KG audit
    uses to grade how strongly each asserted relation is embedded in
    mutually-corroborating triangles (trussness 2 = no triangle at all).

    Edge-level h-index iteration (Sariyuce/Seshadhri/Pinar/Catalyurek,
    WWW'17 local dense-subgraph discovery): start at est = triangle
    support; each round every edge replaces est with the h-index over
    its triangles' STRENGTHS, a triangle's strength being the min est of
    its other two edges. The sequence is monotone non-increasing and
    converges exactly to trussness - 2 — no peeling order, no per-k
    driver loop, same contract as :func:`core_numbers` one level up the
    (node -> edge) hierarchy.

    Skew shape: the triangle-edge incidence (3 rows per triangle) is
    enumerated ONCE via the degree-ordered wedge join (hub out-adjacency
    O(sqrt m)) and checkpointed; each round is two est equi-joins onto
    it, a per-(edge, strength) histogram with map-side partial counts
    absorbing the fan-in, and one tiny cumulative window per edge over
    <= distinct-strength rows. ``exact_rounds=r`` runs exactly r rounds
    (the SQL-oracle-unroll mode); default runs to fixpoint with a
    (count, sum) convergence probe and raises loudly past
    ``max_rounds``.
    """
    if exact_rounds is not None and exact_rounds < 0:
        raise ValueError("exact_rounds must be >= 0")
    e = _undirected(edges, src_col, dst_col, pin=stats_reset_checkpoint)
    tri = _triangles(e)
    ab_u, ab_v = F.least("a", "b"), F.greatest("a", "b")
    ac_u, ac_v = F.least("a", "c"), F.greatest("a", "c")
    bc_u, bc_v = F.col("b"), F.col("c")

    def _rot(eu, ev, f1u, f1v, f2u, f2v):
        return tri.select(
            eu.alias("eu"), ev.alias("ev"),
            f1u.alias("f1u"), f1v.alias("f1v"),
            f2u.alias("f2u"), f2v.alias("f2v"),
        )

    # incidence consumed twice per round (f1 join, f2 join) every round —
    # checkpoint once
    inc = stats_reset_checkpoint(
        _rot(ab_u, ab_v, ac_u, ac_v, bc_u, bc_v)
        .unionAll(_rot(ac_u, ac_v, ab_u, ab_v, bc_u, bc_v))
        .unionAll(_rot(bc_u, bc_v, ab_u, ab_v, ac_u, ac_v))
    )
    support = inc.groupBy(F.col("eu").alias("u"), F.col("ev").alias("v")).agg(
        F.count("*").alias("_s")
    )
    est = stats_reset_checkpoint(
        e.join(support, ["u", "v"], "left").select(
            "u", "v", F.coalesce(F.col("_s"), F.lit(0)).cast("long").alias("est")
        )
    )
    w = (
        Window.partitionBy("eu", "ev")
        .orderBy(F.desc("m"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def h_index(est, _):
        strengths = (
            inc.join(
                est.select(
                    F.col("u").alias("f1u"), F.col("v").alias("f1v"),
                    F.col("est").alias("_e1"),
                ),
                ["f1u", "f1v"],
            )
            .join(
                est.select(
                    F.col("u").alias("f2u"), F.col("v").alias("f2v"),
                    F.col("est").alias("_e2"),
                ),
                ["f2u", "f2v"],
            )
            .select("eu", "ev", F.least("_e1", "_e2").alias("m"))
        )
        hist = strengths.groupBy("eu", "ev", "m").agg(F.count("*").alias("c"))
        hidx = (
            hist.withColumn("cum", F.sum("c").over(w))
            .groupBy(F.col("eu").alias("u"), F.col("ev").alias("v"))
            .agg(F.max(F.least(F.col("m"), F.col("cum"))).alias("h"))
        )
        return est.join(hidx, ["u", "v"], "left").select(
            "u", "v",
            F.least(F.col("est"), F.coalesce(F.col("h"), F.lit(0))).alias("est"),
        )

    est = fixpoint(
        est, h_index, max_rounds=max_rounds, exact_rounds=exact_rounds, probe="est",
        error=f"truss_numbers: ests still dropping after {max_rounds} rounds",
    )
    return est.select("u", "v", (F.col("est") + 2).alias("trussness"))


def rich_club(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """Rich-club coefficient profile -> ``(k, n_nodes, n_edges, phi)``
    for every distinct degree value ``k`` (Zhou & Mondragon '04): among
    the nodes of degree > k, ``phi(k) = 2*E_k / (N_k*(N_k-1))`` — the
    realized fraction of possible edges. A rising phi over k is the
    web-graph signature of hubs preferentially interlinking (link
    exchanges, boilerplate nav cliques); a KG built from a crawl
    inherits it, so the profile is a one-scan structural audit.

    Exact integer arithmetic end-to-end: ``phi`` is emitted as
    ``2*E_k*scale DIV (N_k*(N_k-1))`` (scaled ppm by default) — no
    float anywhere, engine-bit-identical.

    Shape: degrees from one groupBy; the per-k node survivor counts
    come from a degree HISTOGRAM + one cumulative window over <=
    |distinct degrees| rows (never a window over nodes), and the per-k
    edge survivor counts from classifying each edge by
    ``min(deg_u, deg_v)`` (an edge survives at k iff BOTH endpoint
    degrees exceed k) + the same tiny cumulative window. One edge-degree
    join is the only wide operation; rows with ``N_k < 2`` are dropped
    (phi undefined).
    """
    e = _undirected(edges, src_col, dst_col, pin=stats_reset_checkpoint)
    deg = stats_reset_checkpoint(_degrees(e, "d"))
    # distinct k values to profile = distinct degrees (phi changes only there)
    deg_hist = deg.groupBy("d").agg(F.count("*").alias("n_at"))
    # N_k = nodes with degree > k: suffix-cumulative count over the histogram
    w_nodes = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, -1)
    n_k = deg_hist.select(
        F.col("d").alias("k"),
        F.coalesce(F.sum("n_at").over(w_nodes), F.lit(0)).alias("n_nodes"),
    )
    # E_k = edges with min endpoint degree > k: histogram of min-degree,
    # same suffix-cumulative trick over <= |distinct degrees| rows
    e_min = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(F.least("du", "dv").alias("md"))
        .groupBy("md")
        .agg(F.count("*").alias("e_at"))
    )
    # every min-degree IS some node's degree, so e_min's keys are a subset
    # of the degree grid — but not vice versa: align the histogram onto the
    # FULL grid first (0-filled), then suffix-cumulate, or a k with no edge
    # at exactly min-degree k would lose every larger-md edge
    w_edges = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, -1)
    e_cum = (
        n_k.select("k")
        .join(e_min.withColumnRenamed("md", "k"), "k", "left")
        .select("k", F.coalesce(F.col("e_at"), F.lit(0)).alias("e_at"))
        .select(
            "k",
            F.coalesce(F.sum("e_at").over(w_edges), F.lit(0)).alias("_ecum"),
        )
    )
    return (
        n_k.join(e_cum, "k", "left")
        .select(
            "k",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("_ecum"), F.lit(0)).cast("long").alias("n_edges"),
            F.expr(
                f"CAST(2 * coalesce(_ecum, 0) * {scale} div"
                " (n_nodes * (n_nodes - 1)) AS BIGINT)"
            ).alias("phi"),
        )
        .where(F.col("n_nodes") >= 2)
    )


def eigenvector_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    scale: int = 1_000_000,
    symmetric: bool = False,
) -> DataFrame:
    """Eigenvector centrality by integer power iteration ->
    ``(node, score)`` with score ~ ``scale`` at the top: influence where
    a link from an influential page counts more (the undamped ancestor
    of PageRank — Bonacich '72). ``symmetric=True`` unions reversed
    edges first (the undirected variant most KG-audit uses want;
    directed graphs leave source-only nodes at 0, stated explicitly).

    ALL arithmetic is BIGINT, same discipline as
    :func:`pagerank_fixed_point`: each round sums inbound scores
    exactly, then renormalizes by the round maximum using the
    OVERFLOW-SAFE form ``iv DIV greatest(mx DIV scale, 1)`` — the naive
    ``iv * scale DIV mx`` would overflow 2^63 at hub in-degree >~ 10^4,
    while dividing by the pre-shrunk ``mx DIV scale`` keeps every
    intermediate <= ~2*scale*indegree with relative truncation error
    <= scale/mx per round, identical in any engine. The round maximum
    is a 1-row aggregate broadcast back (the repo's standard guarded
    crossJoin); edge list and node frame materialize once.
    """
    e = _directed(edges, src_col, dst_col, symmetric=symmetric)
    nodes = _nodes(e, "s", "d", pin=_lazy_pin)
    v = stats_reset_checkpoint(
        nodes.select("node", F.lit(scale).cast("long").alias("v"))
    )
    for _ in range(iterations):
        inbound = (
            e.join(v.select(F.col("node").alias("s"), "v"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("v").alias("iv"))
        )
        nv = nodes.join(inbound, "node", "left").select(
            "node", F.coalesce(F.col("iv"), F.lit(0)).alias("iv")
        )
        mx = nv.agg(F.max("iv").alias("mx"))
        v = stats_reset_checkpoint(
            nv.crossJoin(F.broadcast(mx)).select(
                "node",
                F.expr(f"CAST(iv div greatest(mx div {scale}, 1) AS BIGINT)").alias(
                    "v"
                ),
            )
        )
    return v.select("node", F.col("v").alias("score"))


def ppr_forward_push(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    rounds: int = 4,
    scale: int = 1_000_000,
    alpha_pct: int = 15,
) -> DataFrame:
    """Personalized PageRank by round-synchronous FORWARD PUSH
    (Andersen-Chung-Lang, FOCS'06) -> ``(node, est, res)`` — the LOCAL
    formulation: state exists only for nodes the seed mass has actually
    reached, where :func:`personalized_pagerank`'s power iteration
    carries every node of the graph through every round. At 10^12 nodes
    with a handful of seeds, this is the difference between state
    proportional to the seeds' r-hop neighborhood and state proportional
    to the web.

    Per round, synchronously for EVERY node holding residual: ``est +=
    alpha*res DIV 100``; the remaining ``res - alpha*res DIV 100``
    splits equally over out-edges (``DIV out_degree``, truncation
    remainders dropped — the same deterministic mass leak as
    pagerank_fixed_point, identical in any engine); pushed inflows
    become the next round's residuals. Synchronous full-push keeps the
    result a pure function of (graph, seeds, rounds) — no queue order,
    no threshold race, hash-oracle-checkable. Dangling nodes absorb
    their alpha share and drop the rest (stated; matches the pagerank
    family's simplified dangling semantics). ``est + res`` conserves
    mass up to the documented truncations, asserted in tests.

    Shape: out-degrees and edges materialize once; each round is one
    src-keyed join SIZED BY THE FRONTIER (not the graph) + one
    map-side-combinable dst sum + one full-outer merge of two
    frontier-sized frames, through stats_reset_checkpoint.
    """
    if not 0 < alpha_pct < 100:
        raise ValueError(f"alpha_pct must be in (0,100), got {alpha_pct}")
    e = _directed(edges, src_col, dst_col)
    outd = e.groupBy("s").agg(F.count("*").alias("od")).localCheckpoint(eager=False)
    state = stats_reset_checkpoint(
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("est"),
                F.lit(scale).cast("long").alias("res"))
    )
    for _ in range(rounds):
        absorbed = state.select(
            "node",
            (
                F.col("est")
                + F.expr(f"CAST(res * {alpha_pct} div 100 AS BIGINT)")
            ).alias("est"),
            F.expr(f"CAST(res - res * {alpha_pct} div 100 AS BIGINT)").alias("_out"),
        )
        inflow = (
            absorbed.where(F.col("_out") > 0)
            .join(outd, absorbed["node"] == outd["s"], "inner")
            .join(e, "s")
            .select(F.col("d").alias("node"),
                    F.expr("CAST(_out div od AS BIGINT)").alias("_in"))
            .groupBy("node")
            .agg(F.sum("_in").alias("res"))
        )
        state = stats_reset_checkpoint(
            absorbed.select("node", "est")
            .join(inflow, "node", "full_outer")
            .select(
                "node",
                F.coalesce(F.col("est"), F.lit(0)).alias("est"),
                F.coalesce(F.col("res"), F.lit(0)).alias("res"),
            )
        )
    return state.where((F.col("est") > 0) | (F.col("res") > 0))


def salsa_scores(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """SALSA authority/hub scores by integer alternating walks ->
    ``(node, authority, hub)`` (Lempel & Moran, WWW'00): HITS with the
    mutual-reinforcement sums replaced by DEGREE-NORMALIZED random-walk
    steps — ``a(i) = sum_{j->i} h(j) DIV outdeg(j)``, ``h(j) =
    sum_{j->i} a(i) DIV indeg(i)`` — which makes it robust to the tightly
    knit community (TKC) effect that lets a small dense cluster capture
    HITS: a clique's mass is divided by its own degrees instead of
    multiplying itself up. The third link-analysis family next to
    kg_pagerank (popularity) and kg_hits (mutual reinforcement).

    Same exact-BIGINT discipline as the rest of the family: start at
    ``scale``, every step divides mass by an exact integer degree and
    sums exactly; no per-round normalization is needed because the walk
    is stochastic (mass is conserved up to DIV truncation), so the
    result is bit-identical cross-engine/cross-partitioning. Scores
    decay by at most the truncation leak per round — ranking, not
    magnitude, is the output contract.

    Shape: deduped edge list + both degree frames materialize once;
    each iteration is two src/dst-keyed joins with map-side-combinable
    sums. Nodes with no in-edges hold authority 0, no out-edges hub 0
    (the bipartite-walk semantics, stated).
    """
    e = _directed(edges, src_col, dst_col)
    outd = e.groupBy("s").agg(F.count("*").alias("od")).localCheckpoint(eager=False)
    ind = e.groupBy("d").agg(F.count("*").alias("id_")).localCheckpoint(eager=False)
    nodes = _nodes(e, "s", "d", pin=_lazy_pin)
    hub = stats_reset_checkpoint(
        nodes.select("node", F.lit(scale).cast("long").alias("h"))
    )
    auth = None
    for _ in range(iterations):
        a_in = (
            e.join(outd, "s")
            .join(hub.select(F.col("node").alias("s"), "h"), "s")
            .select(F.col("d").alias("node"), F.expr("CAST(h div od AS BIGINT)").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("a"))
        )
        auth = stats_reset_checkpoint(
            nodes.join(a_in, "node", "left").select(
                "node", F.coalesce(F.col("a"), F.lit(0)).alias("a")
            )
        )
        h_in = (
            e.join(ind, "d")
            .join(auth.select(F.col("node").alias("d"), "a"), "d")
            .select(F.col("s").alias("node"), F.expr("CAST(a div id_ AS BIGINT)").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("h"))
        )
        hub = stats_reset_checkpoint(
            nodes.join(h_in, "node", "left").select(
                "node", F.coalesce(F.col("h"), F.lit(0)).alias("h")
            )
        )
    return auth.join(hub, "node").select(
        "node", F.col("a").alias("authority"), F.col("h").alias("hub")
    )


def bootstrap_percolation(
    edges: DataFrame,
    seeds: DataFrame,
    threshold: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    rounds: int | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """Bootstrap percolation / deterministic threshold cascade ->
    ``(node, round)`` = the round each node ACTIVATED (seeds = 0)
    (Chalupa-Leath-Reich '79; the linear-threshold cascade with unit
    weights): an inactive node activates when at least ``threshold`` of
    its neighbors are active, synchronously per round, monotone until
    fixpoint. The KG-robustness audit this powers: seed the entities a
    bad merge corrupted and watch how far corroboration-by-k-neighbors
    would spread the corruption — or seed trusted entities and measure
    k-corroborated trust coverage.

    Undirected simple graph; synchronous rounds make the result a pure
    function of (graph, seeds, threshold) — no activation order, fully
    hash-oracle-checkable (exact integer counts only). Monotonicity
    bounds rounds by |V|; ``rounds=r`` runs exactly r rounds for the
    SQL-unroll oracle, default runs to fixpoint (a 1-row count probe
    per round) and raises loudly past ``max_rounds``.

    Shape: per round ONE join of the frontier-complement's edges onto
    the active set + a map-side-combinable count — active-neighbor
    counting touches only edges incident to active nodes, and the
    active frame rides through stats_reset_checkpoint like every
    fixpoint loop here.
    """
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    e = _mirrored(_undirected(edges, src_col, dst_col, pin=None))
    active = stats_reset_checkpoint(
        seeds.select(F.col(node_col).alias("node")).distinct().select(
            "node", F.lit(0).cast("long").alias("round")
        )
    )

    def spread(active, r):
        newly = (
            e.join(active.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("_na"))
            .where(F.col("_na") >= threshold)
            .join(active.select("node"), "node", "left_anti")
            .select("node", F.lit(r).cast("long").alias("round"))
        )
        return active.unionAll(newly)

    # active only grows, so an unchanged (count, sum(round)) probe means
    # no node activated this round
    return fixpoint(
        active, spread, max_rounds=max_rounds, exact_rounds=rounds, probe="round",
        error=f"bootstrap_percolation: still spreading after {max_rounds} rounds",
    )


def four_clique_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node 4-clique participation counts -> ``(node, cliques4)``
    for every node in at least one K4 — the densest small motif, and
    the one that separates a genuine mutual-corroboration cluster from
    the sparser signals: a triangle can be one shared boilerplate link,
    a 4-cycle a reciprocal pair, but a K4 needs all six edges. Closes
    the motif census next to triangle_count / square_count /
    butterfly_count.

    Enumeration is canonical-ordered (a < b < c < d), each clique
    counted exactly once: the id-ordered triangle list (same CTE shape
    as the k-truss oracle) extends by the c-anchored edge (c, d) —
    canonical form guarantees d > c — then two semi-joins certify
    (a, d) and (b, d). Work is bounded by sum over triangles of
    deg(max-corner), the standard listing bound; all joins are
    equi-joins on the checkpointed canonical edge list, exact integer
    counts only.
    """
    e = _undirected(edges, src_col, dst_col, pin=stats_reset_checkpoint)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    ext = tri.join(
        e.select(F.col("u").alias("c"), F.col("v").alias("d")), "c"
    )
    k4 = (
        ext.join(
            e.select(F.col("u").alias("a"), F.col("v").alias("d")),
            ["a", "d"],
            "left_semi",
        )
        .join(
            e.select(F.col("u").alias("b"), F.col("v").alias("d")),
            ["b", "d"],
            "left_semi",
        )
    )
    corners = (
        k4.select(F.col("a").alias("node"))
        .unionAll(k4.select(F.col("b").alias("node")))
        .unionAll(k4.select(F.col("c").alias("node")))
        .unionAll(k4.select(F.col("d").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("cliques4"))


def ppr_sweep_cut(
    edges: DataFrame,
    scores: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    score_col: str = "est",
) -> DataFrame:
    """Conductance sweep cut over a PPR score vector -> one row per
    sweep prefix ``(rank, node, score, deg, vol, cut, phi_ppm)`` — the
    second half of Andersen-Chung-Lang local clustering (FOCS'06):
    :func:`ppr_forward_push` concentrates seed mass, the sweep orders
    nodes by ``score/degree`` and scans prefixes; the prefix minimizing
    conductance IS the local community, with ACL's approximation
    guarantee. ``argmin(phi_ppm)`` over this frame is the cluster
    boundary; returning the whole curve keeps the operator composable
    (plateau detection, multi-scale cuts) and oracle-checkable row by
    row.

    Exact integer arithmetic: the sweep key is ``score * 1_000_000 div
    degree`` (BIGINT truncating div — deterministic, engine-portable;
    ties break on score desc then node asc, a total order), conductance
    is ``cut * 1_000_000 div min(vol, total_vol - vol)`` ppm (null for
    the degenerate full-graph prefix where the min is 0).

    Shape: the graph symmetrizes once (distinct canonical pairs); the
    candidate set is only nodes holding PPR mass — frontier-sized, the
    seeds' push ball, NOT the graph. Global sweep rank is the lazy
    distributed zip-index over one range-partitioned sort (never a
    single-task window over the graph). Per-prefix cut comes from an
    open/close decomposition — an edge crosses prefix j iff
    ``min_rank <= j < max_rank``, so ``cut(j) = opened(j) - closed(j)``,
    two per-rank counting aggregates + cumulative sums — instead of
    re-counting boundary edges per prefix (which would be quadratic).
    The three cumulative sums run in one window ordered by rank over the
    per-rank frame: single-task, but sized by the CANDIDATE set (the
    local cluster's support, thousands at most under any sane push
    radius), the same documented bound as sampling.apportion_budget's
    key-table window.
    """
    und = _undirected(
        edges, src_col, dst_col, cast="string",
        pin=lambda d: stats_reset_checkpoint(d, eager=False),
    )
    deg = _degrees(und)
    cand = (
        scores.select(
            F.col(node_col).cast("string").alias("node"),
            F.col(score_col).cast("long").alias("score"),
        )
        .where(F.col("score") > 0)
        .join(deg, "node")
        .withColumn("_key", F.expr("score * 1000000 div deg").cast("long"))
    )
    from .compiler import with_row_index

    ranked = stats_reset_checkpoint(
        with_row_index(
            cand.orderBy(
                F.col("_key").desc(), F.col("score").desc(), F.col("node")
            ),
            "_idx",
        ).select(
            (F.col("_idx") + 1).cast("long").alias("rank"),
            "node",
            "score",
            "deg",
        ),
        eager=False,
    )
    big = F.lit(1 << 62).cast("long")
    r_u = ranked.select(F.col("node").alias("u"), F.col("rank").alias("_ra"))
    r_v = ranked.select(F.col("node").alias("v"), F.col("rank").alias("_rb"))
    e2 = (
        und.join(r_u, "u", "left")
        .join(r_v, "v", "left")
        .select(
            F.least(F.coalesce("_ra", big), F.coalesce("_rb", big)).alias("rmin"),
            F.greatest(F.coalesce("_ra", big), F.coalesce("_rb", big)).alias("rmax"),
        )
        .where(F.col("rmin") < big)
    )
    opened = e2.groupBy(F.col("rmin").alias("rank")).agg(
        F.count("*").alias("_opened")
    )
    closed = e2.where(F.col("rmax") < big).groupBy(
        F.col("rmax").alias("rank")
    ).agg(F.count("*").alias("_closed"))
    total_vol = und.agg((2 * F.count("*")).cast("long").alias("_tv"))
    from pyspark.sql import Window

    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    per_rank = (
        ranked.join(opened, "rank", "left")
        .join(closed, "rank", "left")
        .crossJoin(F.broadcast(total_vol))
        .select(
            "rank",
            "node",
            "score",
            "deg",
            F.sum("deg").over(w).cast("long").alias("vol"),
            (
                F.sum(F.coalesce("_opened", F.lit(0))).over(w)
                - F.sum(F.coalesce("_closed", F.lit(0))).over(w)
            ).cast("long").alias("cut"),
            F.col("_tv"),
        )
    )
    side = F.least(F.col("vol"), F.col("_tv") - F.col("vol"))
    return per_rank.select(
        "rank",
        "node",
        "score",
        "deg",
        "vol",
        "cut",
        F.when(side > 0, F.expr("cut * 1000000").cast("long"))
        .otherwise(F.lit(None))
        .cast("long")
        .alias("_num"),
        side.alias("_side"),
    ).select(
        "rank",
        "node",
        "score",
        "deg",
        "vol",
        "cut",
        F.expr("_num div _side").cast("long").alias("phi_ppm"),
    )


def simrank_scores(
    edges: DataFrame,
    rounds: int = 2,
    c_num: int = 8,
    c_den: int = 10,
    max_out_degree: int = 64,
    scale: int = 1_000_000,
    min_score: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Truncated SimRank (Jeh & Widom, KDD'02) over the directed simple
    graph -> ``(a, b, simrank)`` with ``a < b`` and score in fixed-point
    ``scale`` units: "two objects are similar if they are referenced by
    similar objects" — THE structural node-similarity for entity
    resolution on a KG (two entities cited by the same similar sources
    are merge candidates even with zero textual overlap).

    Exact recurrence, all BIGINT:
    ``s_0(a,b) = scale*[a=b]``;
    ``s_k(a,b) = (c_num * SUM_{i->a, j->b} s_{k-1}(i,j))
                 DIV (c_den * indeg(a) * indeg(b))`` for a != b,
    diagonal pinned at ``scale``. Truncating integer division per pair
    per round makes the result partition-order independent and
    hash-identical in any engine (same argument as
    :func:`pagerank_fixed_point`); C = c_num/c_den is the standard 0.8.

    Scale shape: the nonzero-pair frontier starts at the diagonal and
    each round fans out through ONE two-sided hash join against the
    out-adjacency (i->a onto the left key, j->b onto the right key)
    followed by one map-side-combined sum keyed on (a,b). The fan-out
    factor is outdeg(i)*outdeg(j), so nodes with out-degree >
    ``max_out_degree`` do not PROPAGATE similarity (their targets'
    pairs lose those terms — the same hub-cap move as
    :func:`link_prediction_scores`: a page linking to everyone certifies
    nothing). Capped hubs still RECEIVE scores as a/b. Pair-state stays
    bounded by sum(min(outdeg,cap)^2) per round, never |V|^2: truncated
    rounds keep the frontier local exactly like the k-hop guarantee.
    Scores below ``min_score`` (post-division zeros) are dropped each
    round — the sparsity that keeps round k+1's join input small.
    """
    e = _directed(edges, src_col, dst_col, loops=False)
    indeg = e.groupBy(F.col("d").alias("node")).agg(
        F.count("*").alias("ind")
    )
    outdeg = e.groupBy(F.col("s").alias("node")).agg(
        F.count("*").alias("outd")
    )
    # propagation adjacency: i -> a, only for i under the out-degree cap
    prop = (
        e.join(
            outdeg.where(F.col("outd") <= max_out_degree).select(
                F.col("node").alias("s")
            ),
            "s",
        )
        .select(F.col("s").alias("i"), F.col("d").alias("a"))
        .localCheckpoint(eager=False)
    )
    nodes = _nodes(e, "s", "d", pin=_lazy_pin)
    diag = nodes.select(
        F.col("node").alias("pi"),
        F.col("node").alias("pj"),
        F.lit(scale).cast("long").alias("s"),
    )
    cur = diag
    for _ in range(rounds):
        summed = (
            cur.join(prop.select(F.col("i").alias("pi"), "a"), "pi")
            .join(
                prop.select(F.col("i").alias("pj"), F.col("a").alias("b")),
                "pj",
            )
            .where(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("s").alias("_sum"))
        )
        offdiag = (
            summed.join(indeg.select(F.col("node").alias("a"),
                                     F.col("ind").alias("ia")), "a")
            .join(indeg.select(F.col("node").alias("b"),
                               F.col("ind").alias("ib")), "b")
            .select(
                F.col("a").alias("pi"),
                F.col("b").alias("pj"),
                F.expr(f"({int(c_num)} * _sum) div ({int(c_den)} * ia * ib)")
                .cast("long")
                .alias("s"),
            )
            .where(F.col("s") >= min_score)
        )
        cur = (
            diag.unionByName(offdiag)
            .transform(lambda d: stats_reset_checkpoint(d, eager=False))
        )
    return (
        cur.where(F.col("pi") < F.col("pj"))
        .select(F.col("pi").alias("a"), F.col("pj").alias("b"),
                F.col("s").alias("simrank"))
    )


def structural_twins(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_class_size: int = 2,
) -> DataFrame:
    """Exact-neighborhood twin classes -> ``(node, class_id,
    class_size)``: nodes whose OUT-neighbor set and IN-neighbor set are
    both identical collapse into one class (``class_id`` = lexicographic
    min member). Structural equivalence in the strict sense — the
    supernode-collapse primitive for KG compression and the strongest
    "these entities are interchangeable" merge signal (two product pages
    linked by exactly the same hubs to exactly the same targets), one
    notch stronger than :func:`wl_colors`' depth-r indistinguishability.

    Neighbor SETS are folded with the same commutative-sum idiom as
    :func:`wl_colors` (sum of md5-int mod 2^31-1 + set size), but with
    TWO independently-salted sums per direction: a false merge needs a
    simultaneous collision in two 31-bit residues AND equal degrees on
    both sides (~2^-62 per pair) — negligible-by-construction and
    documented, while a hub with 10^8 neighbors folds map-side with
    bounded state (the sorted-concat signature would collect a gigabyte
    string in one task).

    Shape: two distinct-edge scans -> per-node aggregates -> one
    groupBy on the 6-field signature (min + count) -> one hash join
    back to members. Classes below ``min_class_size`` drop (set it to 1
    to keep singletons).
    """
    e = _directed(edges, src_col, dst_col, loops=False)
    M = 2147483647

    def _profile(frame, node_col, nbr_col, tag, cnt):
        return frame.groupBy(F.col(node_col).alias("node")).agg(
            F.sum(F.pmod(md5_int(F.concat(F.lit("t1:"), F.col(nbr_col))), F.lit(M)))
            .alias(f"{tag}s1"),
            F.sum(F.pmod(md5_int(F.concat(F.lit("t2:"), F.col(nbr_col))), F.lit(M)))
            .alias(f"{tag}s2"),
            F.count("*").alias(cnt),  # 'onn'/'inn', not on/in: SQL keywords
        )
    out_p = _profile(e, "s", "d", "o", "onn")
    in_p = _profile(e, "d", "s", "i", "inn")
    prof = (
        out_p.join(in_p, "node", "full")
        .select(
            "node",
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c)
                for c in ("os1", "os2", "onn", "is1", "is2", "inn")
            ],
        )
    )
    sig_cols = ["os1", "os2", "onn", "is1", "is2", "inn"]
    classes = prof.groupBy(*sig_cols).agg(
        F.min("node").alias("class_id"), F.count("*").alias("class_size")
    )
    return (
        prof.join(classes, sig_cols)
        .where(F.col("class_size") >= min_class_size)
        .select("node", "class_id", "class_size")
    )


def refex_features(
    edges: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Recursive structural features (ReFeX, Henderson et al. KDD'11 —
    the feature stage of RolX role discovery) -> one row per node with
    exact-BIGINT feature columns: base features ``od``/``ind`` (out/in
    degree), then each round appends, for every feature minted in the
    PREVIOUS round, its sum over out-neighbors (``os_*``) and over
    in-neighbors (``is_*``) — rounds=2 gives 2 + 4 + 8 = 14 columns.
    Nodes with equal vectors play the same structural role (broker, hub
    spoke, leaf-of-hub, ...) regardless of where in the graph they sit —
    the role signal that feeds clustering/blocking where
    :func:`structural_twins` (exact same neighbors) is too strict and
    :func:`wl_colors` (opaque hash) is unusable as a feature.

    Recursing only over the previous round's features is the standard
    pruned variant: the full closure triples columns per round while
    adding only re-sums of already-present information. All sums are
    integer aggregates over the edge list — two hash joins + two
    map-side-combined aggs per round, no windows, no floats (ReFeX's
    means are sum/deg — derivable downstream where needed without
    sacrificing the engine-exact hash).
    """
    e = _directed(edges, src_col, dst_col, loops=False)
    nodes = _nodes(e, "s", "d")
    od = e.groupBy(F.col("s").alias("node")).agg(F.count("*").alias("od"))
    ind = e.groupBy(F.col("d").alias("node")).agg(F.count("*").alias("ind"))
    feats = (
        nodes.join(od, "node", "left")
        .join(ind, "node", "left")
        .select(
            "node",
            F.coalesce("od", F.lit(0)).cast("long").alias("od"),
            F.coalesce("ind", F.lit(0)).cast("long").alias("ind"),
        )
        .localCheckpoint(eager=False)
    )
    new_cols = ["od", "ind"]
    for _ in range(rounds):
        src_feats = feats.select(F.col("node"), *new_cols)
        osum = (
            e.join(src_feats.withColumnRenamed("node", "d"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(*[F.sum(c).alias(f"os_{c}") for c in new_cols])
        )
        isum = (
            e.join(src_feats.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(*[F.sum(c).alias(f"is_{c}") for c in new_cols])
        )
        minted = [f"os_{c}" for c in new_cols] + [f"is_{c}" for c in new_cols]
        feats = (
            feats.join(osum, "node", "left")
            .join(isum, "node", "left")
            .select(
                "*",
            )
            .na.fill(0, minted)
            .transform(lambda d: stats_reset_checkpoint(d, eager=False))
        )
        new_cols = minted
    return feats


def propagate_labels(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Seeded label propagation -> ``(node, label, round_assigned)``:
    starting from a seed table of known labels (entity types curated by
    hand or inferred from schema.org), each round every still-unlabeled
    node adopts the MAJORITY label among its labeled neighbors on the
    undirected graph (ties: count desc, then label asc — fully
    deterministic), and once labeled a node never changes. The
    semi-supervised type-completion companion to ``kg_typeinfer``:
    schema gives types to the mapped core, propagation extends them
    through the link structure.

    Monotone-seeded (labels only spread, never flip) => converges in
    <= diameter rounds and the result is partition-order independent —
    exact integer vote counts plus a lexicographic tie-break make it
    hash-identical in any engine, unlike classic LPA whose oscillation
    needs async tricks.

    Per round: one hash join (labels onto edges) + one (node, label)
    count agg + one per-node argmax via min_by over a (neg count, label)
    struct (no window) + one anti-join to keep only new nodes. Frontier
    shrinks monotonically; plan reset per round via
    ``stats_reset_checkpoint`` like every iterative loop here.
    """
    und = _directed(edges, src_col, dst_col, symmetric=True, loops=False)
    labeled = seeds.select(
        F.col(node_col).alias("node"),
        F.col(label_col).cast("string").alias("label"),
        F.lit(0).alias("round_assigned"),
    )
    for r in range(1, rounds + 1):
        votes = (
            und.join(
                labeled.select(F.col("node").alias("s"), "label"), "s"
            )
            .join(
                labeled.select(F.col("node").alias("d")), "d", "left_anti"
            )
            .groupBy(F.col("d").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        new = votes.groupBy("node").agg(
            F.expr(
                "min_by(label, named_struct('nc', -cnt, 'l', label))"
            ).alias("label")
        ).withColumn("round_assigned", F.lit(r))
        labeled = labeled.unionByName(new).transform(
            lambda d: stats_reset_checkpoint(d, eager=False)
        )
    return labeled


def onion_layers(
    edges: DataFrame,
    rounds: int = 16,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Onion decomposition (Hebert-Dufresne, Grochow & Allard 2016) ->
    ``(node, core, layer)``: the k-core peeling ORDER. Round upon round,
    every node whose remaining degree is <= the current threshold k
    peels off as one layer (core = k); when nothing peels, k increments
    without minting a layer. Layer number separates tree-like fringe
    from dense center WITHIN the same core — the structure signal
    ``core_numbers`` alone flattens (a 2-core path node and a 2-core
    ring node share core but not layer).

    Exactly ``rounds`` rounds run, BRANCH-FREE: the scalar state
    (k, layer) travels as a one-row frame cross-joined into each
    round's plan, and the "did anything peel" test is an in-plan 1-row
    count aggregate — no driver-side branching, so the computation is a
    pure function of (graph, rounds) and unrolls verbatim into a SQL
    oracle. Nodes still unpeeled after ``rounds`` are absent from the
    output (pick rounds >= layers + max core; each no-peel round costs
    one k increment).

    Per round: degrees on the REMAINING subgraph (two semi joins + one
    count agg), one threshold filter, one anti join — all keyed hash
    ops; the state row broadcasts. Plans reset per round via
    ``stats_reset_checkpoint``.
    """
    und = _undirected(edges, src_col, dst_col)
    both = _mirrored(und)
    rem = _nodes(und, "u", "v")
    spark = edges.sparkSession
    state = spark.createDataFrame([(1, 0)], ["k", "layer"])
    out = None
    for _ in range(rounds):
        live = (
            both.join(rem.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(rem.withColumnRenamed("node", "v"), "v", "left_semi")
        )
        deg = live.groupBy(F.col("u").alias("node")).agg(
            F.count("*").alias("deg")
        )
        degged = rem.join(deg, "node", "left").select(
            "node", F.coalesce("deg", F.lit(0)).alias("deg")
        )
        s = degged.crossJoin(F.broadcast(state)).where(
            F.col("deg") <= F.col("k")
        )
        peeled = s.select(
            "node",
            F.col("k").cast("long").alias("core"),
            (F.col("layer") + 1).cast("long").alias("layer"),
        ).localCheckpoint(eager=False)
        out = peeled if out is None else out.unionByName(peeled)
        n_s = peeled.agg(F.count("*").alias("ns"))
        state = (
            state.crossJoin(F.broadcast(n_s))
            .select(
                F.when(F.col("ns") == 0, F.col("k") + 1)
                .otherwise(F.col("k")).alias("k"),
                F.when(F.col("ns") == 0, F.col("layer"))
                .otherwise(F.col("layer") + 1).alias("layer"),
            )
            .transform(lambda d: stats_reset_checkpoint(d, eager=False))
        )
        rem = rem.join(peeled.select("node"), "node", "left_anti").transform(
            lambda d: stats_reset_checkpoint(d, eager=False)
        )
    return out


def bowtie_decomposition(
    edges: DataFrame,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    scc_trim_rounds: int = 10,
) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al., WWW'00
    — THE web-graph structure map) -> ``(node, region)`` with region in
    ``CORE`` (largest SCC), ``IN`` (reaches the core), ``OUT`` (reached
    from it), ``TUBE`` (on an IN-to-OUT path that bypasses the core),
    ``TENDRIL`` (dangling off IN or into OUT), ``DISCONNECTED``. The
    regions are disjoint by construction (a node both reaching and
    reached from the core is mutually reachable with it, i.e. IN the
    core SCC).

    Reachability runs exactly ``rounds`` frontier expansions per
    direction (4 BFS passes total: core-forward, core-backward,
    IN-forward, OUT-backward) — pick rounds >= the graph's directed
    diameter for exact semantics; fixed rounds keep the computation a
    pure function of (graph, rounds) that unrolls into a SQL oracle.
    Core selection is size-desc / scc_id-asc (deterministic) via one
    1-row broadcast argmax over the SCC size table.

    Per round each BFS is one frontier join + distinct union —
    visited-set-bounded state, the canonical iterative-graph shape;
    everything else is semi/anti joins against bounded label sets.
    """
    e = _directed(edges, src_col, dst_col, loops=False, cast="string")
    scc = strongly_connected_components(
        e, src_col="s", dst_col="d", trim_rounds=scc_trim_rounds
    )
    sizes = scc.groupBy("scc_id").agg(F.count("*").alias("n"))
    core_id = sizes.agg(
        F.expr("min_by(scc_id, named_struct('nn', -n, 's', scc_id))")
        .alias("core_id")
    )
    core = (
        scc.join(F.broadcast(core_id),
                 F.col("scc_id") == F.col("core_id"))
        .select("node")
        .localCheckpoint(eager=False)
    )

    def reach(seeds, forward: bool):
        key_out, key_in = ("s", "d") if forward else ("d", "s")
        visited = seeds.select("node")
        frontier = visited
        for _ in range(rounds):
            nxt = (
                e.join(frontier.withColumnRenamed("node", key_out), key_out)
                .select(F.col(key_in).alias("node"))
                .join(visited, "node", "left_anti")
                .distinct()
                .localCheckpoint(eager=False)
            )
            visited = visited.unionByName(nxt).transform(
                lambda df: stats_reset_checkpoint(df, eager=False)
            )
            frontier = nxt
        return visited

    fwd_core = reach(core, True)
    bwd_core = reach(core, False)
    in_set = bwd_core.join(core, "node", "left_anti").localCheckpoint(eager=False)
    out_set = fwd_core.join(core, "node", "left_anti").localCheckpoint(eager=False)
    fwd_in = reach(in_set, True)
    bwd_out = reach(out_set, False)
    nodes = scc.select("node")
    flag = lambda s, name: s.select("node").withColumn(name, F.lit(True))
    lab = (
        nodes.join(flag(core, "_core"), "node", "left")
        .join(flag(in_set, "_in"), "node", "left")
        .join(flag(out_set, "_out"), "node", "left")
        .join(flag(fwd_in, "_fi"), "node", "left")
        .join(flag(bwd_out, "_bo"), "node", "left")
    )
    return lab.select(
        "node",
        F.when(F.col("_core"), F.lit("CORE"))
        .when(F.col("_in"), F.lit("IN"))
        .when(F.col("_out"), F.lit("OUT"))
        .when(F.col("_fi") & F.col("_bo"), F.lit("TUBE"))
        .when(F.col("_fi") | F.col("_bo"), F.lit("TENDRIL"))
        .otherwise(F.lit("DISCONNECTED"))
        .alias("region"),
    )


def spam_mass(
    edges: DataFrame,
    trusted_seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    iterations: int = 5,
    scale: int = 1_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Spam-mass estimate (Gyöngyi et al., VLDB'04 TrustRank / the 2006
    spam-mass follow-up) -> ``(node, rank, trusted_rank, spam_mass_ppm)``:
    how much of each node's PageRank arrives from OUTSIDE a trusted seed
    set. Link farms inflate global PageRank but cannot buy proximity to
    trusted hosts, so rank minus seed-personalized rank is the classic
    web-spam demotion signal — for a crawl-derived host graph this is
    the filter that decides which hosts' pages feed KG extraction at all.

    spam_mass_ppm = max(0, rank - trusted_rank_scaled) * 1e6 DIV rank,
    where trusted_rank_scaled rescales the PPR mass (teleport sums to
    |seeds| * scale) onto the global mass (|V| * scale) by the exact
    integer factor |V| DIV-free multiply: ppr * |V| DIV |seeds|. 1e6 =
    fully spam-supported, 0 = fully trusted-supported. Both inputs are
    the engine's exact-BIGINT recurrences (:func:`pagerank_fixed_point`,
    :func:`personalized_pagerank`), so the whole surface is engine-
    bit-identical and hash-oracle-checkable; rank >= the teleport floor
    > 0, so the DIV is total. Overflow bound: ppr_rank * |V| < 2^63 —
    holds whenever |V| * scale itself does, the same bound PageRank
    already carries.

    Shape: the two recurrences share the canonical iterative plan (edge
    list + degrees localCheckpoint-ed once, one join + one map-side-
    combinable sum per round); the combination adds one node-keyed join
    of the two rank frames plus two broadcast 1-row count frames.
    """
    pr = pagerank_fixed_point(
        edges, src_col=src_col, dst_col=dst_col,
        iterations=iterations, scale=scale, damping_pct=damping_pct,
    )
    tr = personalized_pagerank(
        edges, trusted_seeds, src_col=src_col, dst_col=dst_col,
        node_col=node_col, iterations=iterations, scale=scale,
        damping_pct=damping_pct,
    ).select(F.col("node"), F.col("rank").alias("_tr"))
    nv = F.broadcast(pr.agg(F.count("*").alias("_nv")))
    ns = F.broadcast(
        trusted_seeds.select(F.col(node_col).alias("node")).distinct()
        .agg(F.count("*").alias("_ns"))
    )
    joined = (
        pr.join(tr, "node", "left")
        .crossJoin(nv)
        .crossJoin(ns)
        .select(
            "node", "rank",
            F.expr("coalesce(_tr, 0) * _nv DIV _ns").alias("trusted_rank"),
        )
    )
    return joined.select(
        "node", "rank", "trusted_rank",
        F.expr(
            "greatest(0, rank - trusted_rank) * 1000000 DIV rank"
        ).alias("spam_mass_ppm"),
    )
