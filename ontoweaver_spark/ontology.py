"""Ontology type-hierarchy operators: distributed subclass transitive
closure and nearest-ancestor automapping.

Covers the reference's ontology-subtype surface (reference
``src/ontoweaver/owl.py:1-218`` builds an rdflib graph and walks
``rdfs:subClassOf`` parents per node; its ``test_ontology_subtypes.py`` and
``test_family_automap.py`` map instance types to the closest ancestor the
mapping declares) without the rdflib/biocypher dependency: the hierarchy is
a plain (child, parent) DataFrame — loadable from ``loaders.read_rdf_triples``
— and the closure/automap are DataFrame joins, so they distribute.

Scale shape: the closure uses **path doubling** (round k holds every pair at
distance <= 2^k with its exact minimum depth), so a hierarchy of depth d
needs ceil(log2 d) self-join rounds, not d — an ontology 40 levels deep
closes in 6 shuffles. Each round min-aggregates on (descendant, ancestor);
rounds run through ``session.fixpoint`` like every capped loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from .session import Converged, fixpoint, stats_reset_checkpoint

RDFS_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


def subclass_edges_from_triples(
    triples: DataFrame,
    predicate: str = RDFS_SUBCLASSOF,
) -> DataFrame:
    """(subject, predicate, object) triples -> (child, parent) hierarchy
    edges, keeping only URI-object rows of the given predicate (the flat
    table ``loaders.read_rdf_triples`` produces)."""
    out = triples.where(F.col("predicate") == predicate)
    if "object_kind" in triples.columns:
        out = out.where(F.col("object_kind") == "uri")
    return out.select(
        F.col("subject").alias("child"), F.col("object").alias("parent")
    )


def subclass_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_rounds: int = 12,
    depth_agg: str = "min",
) -> DataFrame:
    """Transitive closure of a (child, parent) hierarchy ->
    ``(descendant, ancestor, depth)`` with depth = minimum edge count
    (``depth_agg="max"`` switches to the LONGEST path — the generation
    number :func:`hierarchy_levels` needs; on a cyclic graph max-depth
    never converges, so that mode turns the convergence raise into the
    cycle detector).

    Path doubling: R_{k+1} = min-depth(R_k UNION R_k JOIN R_k), so round k
    covers every path of length <= 2^k exactly — ``max_rounds=12`` handles
    hierarchies 4096 levels deep. Works on DAGs (multiple parents fine);
    cycles still terminate (pair set and min depths are finite) and show up
    as rows with ``descendant == ancestor``. Raises if the closure is still
    growing after ``max_rounds`` — silently returning a partial closure
    would make automap pick a too-near ancestor downstream.
    """
    reach = (
        edges.select(
            F.col(child_col).cast("string").alias("d"),
            F.col(parent_col).cast("string").alias("a"),
        )
        .where(F.col("d").isNotNull() & F.col("a").isNotNull())
        .distinct()
        .withColumn("depth", F.lit(1))
        .localCheckpoint()
    )

    error = (
        f"subclass_closure still growing after {max_rounds} doubling rounds "
        f"(covers depth {2 ** max_rounds}); raise max_rounds"
    )
    if depth_agg != "max":
        # SEMI-NAIVE doubling for the min-depth mode: only pairs that
        # entered last round can mint new pairs.  A pair first reachable
        # within 2^(k+1) edges splits at its shortest path's midpoint
        # into two halves of length in (2^(k-1), 2^k] — both halves are
        # themselves NEW in round k (a pair enters exactly at
        # ceil(log2 dist), with its exact min depth, because subpaths of
        # shortest paths are shortest) — so delta∘reach ∪ reach∘delta
        # covers everything the full reach∘reach self-join covered,
        # while the join input shrinks to the frontier.  The existing
        # reach frame is never re-aggregated: new pairs are min-grouped
        # among themselves and anti-joined against reach.
        # (The "max" mode below cannot do this: longest-path depths keep
        # improving after insertion, so deltas are not just new pairs.)
        def semi_naive(st, _):
            reach, delta = st
            dm = delta.select(
                F.col("d").alias("m"), F.col("a").alias("a2"),
                F.col("depth").alias("dep2"),
            )
            rm = reach.select(
                F.col("d").alias("m"), F.col("a").alias("a2"),
                F.col("depth").alias("dep2"),
            )
            cand = (
                delta.join(rm, delta["a"] == rm["m"])
                .select(
                    "d", F.col("a2").alias("a"),
                    (F.col("depth") + F.col("dep2")).alias("depth"),
                )
                .unionByName(
                    reach.join(dm, reach["a"] == dm["m"]).select(
                        "d", F.col("a2").alias("a"),
                        (F.col("depth") + F.col("dep2")).alias("depth"),
                    )
                )
            )
            delta = (
                cand.groupBy("d", "a")
                .agg(F.min("depth").alias("depth"))
                .join(reach.select("d", "a"), ["d", "a"], "left_anti")
                .transform(stats_reset_checkpoint)
            )
            if delta.isEmpty():
                return Converged(st)
            return reach.unionByName(delta).transform(
                lambda _d: stats_reset_checkpoint(_d, eager=False)
            ), delta

        reach, _ = fixpoint((reach, reach), semi_naive, max_rounds=max_rounds, error=error)
    else:

        def double(reach, _):
            mid = reach.select(
                F.col("d").alias("m"), F.col("a").alias("a2"), F.col("depth").alias("dep2")
            )
            doubled = reach.join(mid, reach["a"] == mid["m"]).select(
                "d", F.col("a2").alias("a"), (F.col("depth") + F.col("dep2")).alias("depth")
            )
            return reach.unionByName(doubled).groupBy("d", "a").agg(
                F.max("depth").alias("depth")
            )

        reach = fixpoint(reach, double, max_rounds=max_rounds, probe="depth", error=error)
    return reach.select(
        F.col("d").alias("descendant"),
        F.col("a").alias("ancestor"),
        F.col("depth").cast("int").alias("depth"),
    )


def automap_to_targets(
    labeled: DataFrame,
    closure: DataFrame,
    targets: DataFrame,
    label_col: str = "label",
) -> DataFrame:
    """Map each row's type label to its NEAREST ancestor among ``targets``
    (one column ``target``) — the reference's family-automap semantics: an
    instance typed with a deep subclass is emitted under the closest class
    the mapping actually declares. A label that is itself a target maps to
    itself (depth 0); labels with no target ancestor get ``nearest_type``
    NULL (callers drop or error). Adds ``nearest_type`` and ``type_dist``.

    Shape: self-pairs (depth 0) union the closure, semi-joined to targets
    (broadcast — a mapping declares config-sized type sets), then one
    ``min_by(ancestor, depth)`` aggregation per distinct label; the result
    relabels via a broadcast join, so the big table is never shuffled.
    """
    lbl = F.col(label_col).cast("string")
    labels = labeled.select(lbl.alias("_lbl")).where(F.col("_lbl").isNotNull()).distinct()
    self_pairs = labels.select(
        F.col("_lbl").alias("descendant"),
        F.col("_lbl").alias("ancestor"),
        F.lit(0).alias("depth"),
    )
    tgt = F.broadcast(targets.select(F.col("target").cast("string")).distinct())
    hits = (
        self_pairs.unionByName(closure.select("descendant", "ancestor", "depth"))
        .join(tgt, F.col("ancestor") == F.col("target"))
        .groupBy("descendant")
        # struct-min: nearest depth, ties broken by ancestor name — a DAG
        # label with two same-depth target parents must map deterministically
        .agg(F.min(F.struct("depth", "ancestor")).alias("_best"))
        .select(
            "descendant",
            F.col("_best.ancestor").alias("nearest_type"),
            F.col("_best.depth").cast("int").alias("type_dist"),
        )
    )
    return labeled.join(
        F.broadcast(hits), lbl == hits["descendant"], "left"
    ).drop("descendant")


def hierarchy_levels(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_rounds: int = 12,
) -> DataFrame:
    """Topological depth layering of a DAG hierarchy -> ``(node, level)``
    where roots (nodes with no parent) are level 0 and every other node
    sits at its LONGEST path to a root — the layer assignment ontology
    browsers and breadth-capped traversals key on (min-depth would pull
    a deep subclass up through a shortcut edge; longest-path is the
    conventional "generation" number).

    One :func:`subclass_closure` in max-plus mode (path doubling over the
    longest-walk semiring, log2(depth) joins), a broadcast anti-join to
    find roots, and a max aggregate — no per-level frontier loop, which
    at 10^12 edges would serialize depth rounds. Cycles surface loudly:
    max-depth closure cannot converge on one (walk lengths grow every
    round), so the convergence raise is re-thrown as the cycle error.
    """
    e = edges.select(
        F.col(child_col).cast("string").alias("child"),
        F.col(parent_col).cast("string").alias("parent"),
    ).where(F.col("child").isNotNull() & F.col("parent").isNotNull())
    try:
        closure = subclass_closure(e, max_rounds=max_rounds, depth_agg="max")
    except RuntimeError as err:
        raise ValueError(
            "hierarchy_levels: longest-path closure did not converge — the "
            "graph has a cycle (levels are undefined; run "
            "graphstats.cycle_nodes for the offending nodes) or is deeper "
            f"than 2^{max_rounds}; {err}"
        ) from err
    children = e.select(F.col("child").alias("node")).distinct()
    parents = e.select(F.col("parent").alias("node")).distinct()
    roots = parents.join(children, "node", "left_anti")
    deep = (
        closure.join(roots, closure["ancestor"] == roots["node"])
        .groupBy("descendant")
        .agg(F.max("depth").alias("level"))
        .select(F.col("descendant").alias("node"), F.col("level").cast("int").alias("level"))
    )
    return roots.select("node", F.lit(0).alias("level")).unionByName(deep)


def validate_edge_types(
    edges: DataFrame,
    node_types: DataFrame,
    constraints: DataFrame,
    closure: DataFrame | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    label_col: str = "label",
    id_col: str = "id",
    type_col: str = "label",
) -> DataFrame:
    """Ontology conformance check of a typed edge list -> one row per
    violated rule: ``(src, dst, label, src_type, dst_type, violation)``.

    This is the graph-integrity half the reference's ``--validate-output``
    can't see (its tabular rules check cell values, not edge typing;
    reference validate surface: ``src/ontoweaver/validate.py``): every
    edge label declares a ``domain`` (allowed subject class) and ``range``
    (allowed object class), and an endpoint type satisfies the constraint
    if it IS that class or is a SUBCLASS of it per the ontology closure —
    the rdfs:domain/rdfs:range semantics OWL ontologies ship.

    ``constraints`` is ``(edge_label, domain, range)`` (config-sized);
    ``closure`` is :func:`subclass_closure` output (ontology-sized) —
    both broadcast. ``node_types`` is the full node table, joined twice.

    Violations emitted (one row each, an edge can carry several):

    - ``unknown_edge_label`` — no constraint row for the label (domain/
      range checks are then vacuous and NOT also emitted)
    - ``missing_src_type`` / ``missing_dst_type`` — endpoint absent from
      ``node_types`` (the corresponding domain/range check is skipped)
    - ``domain`` / ``range`` — typed endpoint outside the declared class

    Shape: two shuffle joins of edges against node types (the only big
    joins; AQE handles endpoint skew), then broadcast-only work: the
    constraint lookup and two probes of a ``(type, ancestor)`` satisfies
    table built from the closure semi-joined to the classes constraints
    actually mention plus identity pairs. Conforming edges are filtered
    out before the explode, so output is violation-sized.
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
        F.col(label_col).cast("string").alias("label"),
    )
    nt = node_types.select(
        F.col(id_col).cast("string").alias("_nid"),
        F.col(type_col).cast("string").alias("_ntype"),
    ).distinct()
    e = e.join(
        nt.select(F.col("_nid").alias("src"), F.col("_ntype").alias("src_type")),
        "src", "left",
    ).join(
        nt.select(F.col("_nid").alias("dst"), F.col("_ntype").alias("dst_type")),
        "dst", "left",
    )

    cons = constraints.select(
        F.col("edge_label").cast("string").alias("label"),
        F.col("domain").cast("string").alias("_dom"),
        F.col("range").cast("string").alias("_rng"),
    ).distinct()
    e = e.join(F.broadcast(cons), "label", "left")

    # (type, ancestor) pairs that satisfy "type is-a ancestor", restricted
    # to classes the constraints mention; identity pairs make a class
    # satisfy itself even when absent from the closure.
    mentioned = cons.select(F.col("_dom").alias("_cls")).unionByName(
        cons.select(F.col("_rng").alias("_cls"))
    ).where(F.col("_cls").isNotNull()).distinct()
    sat = mentioned.select(
        F.col("_cls").alias("_t"), F.col("_cls").alias("_anc")
    )
    if closure is not None:
        sat = sat.unionByName(
            closure.select(
                F.col("descendant").cast("string").alias("_t"),
                F.col("ancestor").cast("string").alias("_anc"),
            ).join(mentioned, F.col("_anc") == F.col("_cls")).select("_t", "_anc")
        )
    sat = sat.distinct()

    dom_ok = sat.select(
        F.col("_t").alias("src_type"), F.col("_anc").alias("_dom"),
        F.lit(True).alias("_dom_ok"),
    )
    rng_ok = sat.select(
        F.col("_t").alias("dst_type"), F.col("_anc").alias("_rng"),
        F.lit(True).alias("_rng_ok"),
    )
    e = e.join(F.broadcast(dom_ok), ["src_type", "_dom"], "left").join(
        F.broadcast(rng_ok), ["dst_type", "_rng"], "left"
    )

    known = F.col("_dom").isNotNull()
    viol = F.filter(
        F.array(
            F.when(~known, F.lit("unknown_edge_label")),
            F.when(F.col("src_type").isNull(), F.lit("missing_src_type")),
            F.when(F.col("dst_type").isNull(), F.lit("missing_dst_type")),
            F.when(
                known & F.col("src_type").isNotNull() & F.col("_dom_ok").isNull(),
                F.lit("domain"),
            ),
            F.when(
                known & F.col("dst_type").isNotNull() & F.col("_rng_ok").isNull(),
                F.lit("range"),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        e.withColumn("_viol", viol)
        .where(F.size("_viol") > 0)
        .select(
            "src", "dst", "label", "src_type", "dst_type",
            F.explode("_viol").alias("violation"),
        )
    )


RDFS_SUBPROPERTYOF = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
RDFS_DOMAIN = "http://www.w3.org/2000/01/rdf-schema#domain"
RDFS_RANGE = "http://www.w3.org/2000/01/rdf-schema#range"
OWL_INVERSEOF = "http://www.w3.org/2002/07/owl#inverseOf"
OWL_SYMMETRIC = "http://www.w3.org/2002/07/owl#SymmetricProperty"
OWL_TRANSITIVE = "http://www.w3.org/2002/07/owl#TransitiveProperty"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def rdfs_entailment(
    schema: DataFrame,
    edges: DataFrame,
    types: DataFrame,
    max_rounds: int = 12,
    chains: DataFrame | None = None,
):
    """Materialize the ρdf entailment closure (subPropertyOf, domain,
    range, subClassOf + ``owl:inverseOf``) over an instance graph ->
    ``(edges_closed, types_closed)``: every derivable edge triple
    ``(subject, predicate, object)`` and every derivable type assertion
    ``(node, cls)``, base facts included.

    This is the materialization dual of :func:`validate_edge_types` —
    the reference checks instance edges against the OWL hierarchy
    (``src/ontoweaver/owl.py:1-218``); web-scale KG construction usually
    wants the inferred triples written out instead, so downstream
    consumers query the closed graph without reasoning.

    Inputs: ``schema`` is a (subject, predicate, object) frame of RDFS/OWL
    vocabulary triples (config-sized, like an ontology file); ``edges``
    holds instance triples with non-type predicates; ``types`` is
    ``(node, cls)``.

    Stratification makes one pass exact: edge rules (sp, inv) only
    produce edge triples and type rules (dom, rng, sc) only produce type
    triples, so closing properties FIRST, then applying dom/range to the
    closed edge set, then closing classes, reaches the full fixpoint —
    no instance-level iteration. The property rewrite set
    ``REW(p, q, flip)`` ("a p-edge entails a q-edge, reversed iff flip")
    is reachability over a signed property graph: ``p sp q`` preserves
    orientation, ``p inv q`` flips it in BOTH directions. Flipped nodes
    are encoded as ``'~' || property`` (property IRIs never start with
    ``~``), and the reachability reuses :func:`subclass_closure` path
    doubling.

    Scale shape (10^12-triple KG): every fixpoint runs on the SCHEMA
    (config-sized — broadcast); the instance side is exactly two
    broadcast joins (REW onto edges, dom/rng + sc onto the results) and
    the two distincts that set semantics require. No instance-level
    iteration, no driver loop over data size.
    """
    s, p, o = F.col("subject"), F.col("predicate"), F.col("object")

    def _sel(pred):
        return schema.where(p == pred).select(s.alias("x"), o.alias("y")).distinct()

    sp, inv = _sel(RDFS_SUBPROPERTYOF), _sel(OWL_INVERSEOF)
    dom, rng = _sel(RDFS_DOMAIN), _sel(RDFS_RANGE)
    sc = _sel(RDFS_SUBCLASSOF)
    # owl:SymmetricProperty is exactly self-inverse: fold (p, rdf:type,
    # Symmetric) into the inverse set as inv(p, p) and the signed
    # reachability below derives both orientations for free
    sym = (
        schema.where((p == RDF_TYPE) & (o == OWL_SYMMETRIC))
        .select(s.alias("x"), s.alias("y"))
        .distinct()
    )
    inv = inv.unionByName(sym)

    plus, minus = F.col("x"), F.concat(F.lit("~"), F.col("x"))
    plus_y, minus_y = F.col("y"), F.concat(F.lit("~"), F.col("y"))
    signed = (
        sp.select(plus.alias("child"), plus_y.alias("parent"))
        .unionByName(sp.select(minus.alias("child"), minus_y.alias("parent")))
        .unionByName(inv.select(plus.alias("child"), minus_y.alias("parent")))
        .unionByName(inv.select(minus.alias("child"), plus_y.alias("parent")))
        .unionByName(inv.select(plus_y.alias("child"), minus.alias("parent")))
        .unionByName(inv.select(minus_y.alias("child"), plus.alias("parent")))
    )
    props = (
        edges.select(p.alias("prop"))
        .unionByName(sp.select(F.col("x").alias("prop")))
        .unionByName(sp.select(F.col("y").alias("prop")))
        .unionByName(inv.select(F.col("x").alias("prop")))
        .unionByName(inv.select(F.col("y").alias("prop")))
        .distinct()
    )
    ch = None
    if chains is not None:
        # property-chain axioms (first o second ⊑ implies), the OWL-RL
        # prp-spo2 rule restricted to length-2 chains; config-sized like
        # the rest of the schema, so it broadcasts
        ch = chains.select(
            F.col("first").cast("string").alias("_cp"),
            F.col("second").cast("string").alias("_cq"),
            F.col("implies").cast("string").alias("_cr"),
        ).distinct()
        if ch.isEmpty():
            ch = None
        else:
            props = (
                props.unionByName(ch.select(F.col("_cp").alias("prop")))
                .unionByName(ch.select(F.col("_cq").alias("prop")))
                .unionByName(ch.select(F.col("_cr").alias("prop")))
                .distinct()
            )
    ident = props.select(
        F.col("prop").alias("p"), F.col("prop").alias("q"), F.lit(0).alias("flip")
    )
    rew = ident
    if not signed.isEmpty():
        reach = subclass_closure(signed, max_rounds=max_rounds)
        decoded = reach.select(
            F.regexp_replace("descendant", "^~", "").alias("p"),
            F.regexp_replace("ancestor", "^~", "").alias("q"),
            (
                F.startswith(F.col("descendant"), F.lit("~")).cast("int")
                != F.startswith(F.col("ancestor"), F.lit("~")).cast("int")
            ).cast("int").alias("flip"),
        )
        rew = ident.unionByName(decoded).distinct()

    b_rew = F.broadcast(rew.select(F.col("p").alias("predicate"), "q", "flip"))
    joined = edges.select("subject", "predicate", "object").join(b_rew, "predicate")
    edges_closed = (
        joined.select(
            F.when(F.col("flip") == 0, s).otherwise(o).alias("subject"),
            F.col("q").alias("predicate"),
            F.when(F.col("flip") == 0, o).otherwise(s).alias("object"),
        )
        .distinct()
        # consumed three times (returned + dom join + rng join): pin the
        # instance-scale closure so the expansion runs once, not thrice
        .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
    )

    # owl:TransitiveProperty: per-property transitive closure over the
    # INSTANCE edges — the one rule that genuinely iterates on data scale
    # (log-depth doubling via subclass_closure, all marked properties
    # closed in ONE run by prefixing node ids with their property; \\x1f
    # cannot occur in an IRI). Derived chains can entail super-/inverse
    # properties again, so the rewrite re-applies after each closure and
    # the pair loops to a (schema-bounded) fixpoint — on real ontologies
    # one pass, guarded loudly at max_rounds.
    trans = (
        schema.where((p == RDF_TYPE) & (o == OWL_TRANSITIVE))
        .select(s.alias("tp"))
        .distinct()
    )
    has_trans = not trans.isEmpty()
    if has_trans or ch is not None:
        _SEP = "\x1f"
        b_trans = F.broadcast(trans.select(F.col("tp").alias("predicate")))
        # One pass is provably complete when no chain axioms exist and no
        # transitive property's closure output rewrites into a DIFFERENT
        # transitive property (or its own flip): derived edges then carry
        # only non-deriving predicates, and REW is composition-closed so
        # re-applying it adds nothing. Checked on the config-sized schema
        # frames — skipping the verification pass halves the instance-scale
        # work for the common ontology (measured 11.6 s -> ~6 s at sf0.1).
        single_pass = False
        if ch is None:
            t1 = trans.select(F.col("tp").alias("p"))
            t2 = trans.select(F.col("tp").alias("q"))
            feeding = (
                rew.join(t1, "p").join(t2, "q")
                .where(~((F.col("p") == F.col("q")) & (F.col("flip") == 0)))
            )
            single_pass = feeding.isEmpty()

        def close_pass(edges_closed, _):
            derived = []
            if has_trans:
                enc = edges_closed.join(b_trans, "predicate").select(
                    F.concat_ws(_SEP, "predicate", "subject").alias("child"),
                    F.concat_ws(_SEP, "predicate", "object").alias("parent"),
                )
                derived.append(
                    subclass_closure(enc, max_rounds=max_rounds).select(
                        F.substring_index("descendant", _SEP, 1).alias("predicate"),
                        F.substring_index("descendant", _SEP, -1).alias("subject"),
                        F.substring_index("ancestor", _SEP, -1).alias("object"),
                    )
                )
            if ch is not None:
                # one instance join per loop pass: tag first-property edges
                # with their axiom (broadcast), meet second-property edges
                # on the shared middle node
                left = edges_closed.join(
                    F.broadcast(ch.select(F.col("_cp").alias("predicate"), "_cq", "_cr")),
                    "predicate",
                ).select(
                    F.col("subject"), F.col("object").alias("_mid"), "_cq", "_cr"
                )
                right = edges_closed.select(
                    F.col("predicate").alias("_cq"),
                    F.col("subject").alias("_mid"),
                    F.col("object"),
                )
                derived.append(
                    left.join(right, ["_cq", "_mid"]).select(
                        "subject", F.col("_cr").alias("predicate"), "object"
                    )
                )
            new = derived[0]
            for d_ in derived[1:]:
                new = new.unionByName(d_)
            expanded = new.join(b_rew, "predicate").select(
                F.when(F.col("flip") == 0, F.col("subject"))
                .otherwise(F.col("object")).alias("subject"),
                F.col("q").alias("predicate"),
                F.when(F.col("flip") == 0, F.col("object"))
                .otherwise(F.col("subject")).alias("object"),
            )
            return edges_closed.unionByName(expanded).distinct()

        # completeness proven schema-side runs exactly one pass, no probe
        # job; otherwise passes repeat until the edge set stops growing
        edges_closed = fixpoint(
            edges_closed, close_pass, max_rounds=max_rounds,
            exact_rounds=1 if single_pass else None,
            probe=F.xxhash64("subject", "predicate", "object"), probe_start=True,
            error=f"rdfs_entailment: transitive/chain/rewrite closure still "
            f"growing after {max_rounds} passes",
        )

    b_dom = F.broadcast(dom.select(F.col("x").alias("predicate"), F.col("y").alias("cls")))
    b_rng = F.broadcast(rng.select(F.col("x").alias("predicate"), F.col("y").alias("cls")))
    raw_types = (
        types.select(F.col("node"), F.col("cls"))
        .unionByName(edges_closed.join(b_dom, "predicate").select(s.alias("node"), "cls"))
        .unionByName(edges_closed.join(b_rng, "predicate").select(o.alias("node"), "cls"))
    )
    classes = (
        raw_types.select(F.col("cls").alias("c"))
        .unionByName(sc.select(F.col("x").alias("c")))
        .unionByName(sc.select(F.col("y").alias("c")))
        .distinct()
    )
    sc_reflexive = classes.select(F.col("c").alias("cls"), F.col("c").alias("anc"))
    if not sc.isEmpty():
        sc_closed = subclass_closure(
            sc.select(F.col("x").alias("child"), F.col("y").alias("parent")),
            max_rounds=max_rounds,
        ).select(F.col("descendant").alias("cls"), F.col("ancestor").alias("anc"))
        sc_reflexive = sc_reflexive.unionByName(sc_closed)
    types_closed = (
        raw_types.join(F.broadcast(sc_reflexive), "cls")
        .select("node", F.col("anc").alias("cls"))
        .distinct()
    )
    return edges_closed, types_closed


def graph_from_triples(
    triples: DataFrame,
    relation_predicates: list[str],
    type_predicate: str = "a",
    default_type: str = "entity",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bridge harvested ``(subject, predicate, object)`` triples (from
    `webdoc.extract_embedded_jsonld` / `extract_meta_tags` /
    `extract_microdata`, or any loader) into the engine's graph shape ->
    ``(nodes, edges, props)``:

    - ``type_predicate`` triples set node labels (lexicographic MIN when
      a subject carries several types — deterministic, documented);
      untyped subjects get ``default_type``.
    - predicates in ``relation_predicates`` (a DECLARED list, the same
      schema-on-read stance as ``table_rows_to_frame``) become edges;
      their objects become nodes too, typed by their own type triple or
      ``default_type``.
    - every other predicate becomes a property row
      ``(id, key, value)`` — multi-valued kept as rows, the caller
      reduces (``reconciliate`` semantics) when a scalar is needed.

    Shape: one tiny broadcastable type table (distinct subjects of the
    type predicate) left-joined onto subjects and relation objects; all
    aggregates keyed by id — no windows, no corpus-wide state. This is
    the inverse of ``rdf_export.graph_to_triples`` up to the declared
    relation split.
    """
    t = triples.select(
        F.col("subject").cast("string").alias("s"),
        F.col("predicate").cast("string").alias("p"),
        F.col("object").cast("string").alias("o"),
    )
    types = (
        t.where(F.col("p") == type_predicate)
        .groupBy("s")
        .agg(F.min("o").alias("label"))
    )
    rel = t.where(F.col("p").isin(relation_predicates))
    subjects = t.select("s").distinct()
    objects = rel.select(F.col("o").alias("s")).distinct()
    nodes = (
        subjects.unionByName(objects)
        .distinct()
        .join(types, "s", "left")
        .select(
            F.col("s").alias("id"),
            F.coalesce("label", F.lit(default_type)).alias("label"),
        )
    )
    edges = rel.select(
        F.col("s").alias("src"), F.col("o").alias("dst"),
        F.col("p").alias("label"),
    ).distinct()
    props = (
        t.where(
            (F.col("p") != type_predicate)
            & ~F.col("p").isin(relation_predicates)
        )
        .select(F.col("s").alias("id"), F.col("p").alias("key"),
                F.col("o").alias("value"))
        .distinct()
    )
    return nodes, edges, props


def functional_violations(
    edges: DataFrame,
    predicates: list[str],
    src_col: str = "src",
    dst_col: str = "dst",
    label_col: str = "label",
) -> DataFrame:
    """owl:FunctionalProperty audit -> ``(src, label, n_objects)`` for
    every subject asserting MORE THAN ONE distinct object on a
    functional predicate (one birth date, one canonical URL, one
    CEO-as-of-now). The reference's validation never sees this — it
    checks cell values row by row (``src/ontoweaver/validate.py``),
    but a functional violation is a cross-ROW property of the graph,
    exactly the conflict :func:`~ontoweaver_spark.linking.resolve_claims`
    votes away downstream; run this audit first to MEASURE how much
    conflict the crawl carries per predicate.

    One predicate-filtered distinct + one map-side-combinable groupBy,
    keyed on (src, label) — co-located with the bucketed edge tables'
    src clustering at scale. ``predicates`` is config-sized.
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
        F.col(label_col).cast("string").alias("label"),
    ).where(F.col("label").isin([str(p) for p in predicates]))
    return (
        e.distinct()
        .groupBy("src", "label")
        .agg(F.count("*").alias("n_objects"))
        .where(F.col("n_objects") > 1)
    )


def ifp_sameas_candidates(
    edges: DataFrame,
    predicates: list[str],
    src_col: str = "src",
    dst_col: str = "dst",
    label_col: str = "label",
    max_group: int = 100,
) -> DataFrame:
    """owl:InverseFunctionalProperty joins -> ``(a, b, label, obj)``
    owl:sameAs CANDIDATE pairs (a < b lexicographically): two subjects
    sharing the same object on an inverse-functional predicate (same
    ISBN, same DOI, same canonical email hash) denote the same entity —
    the classic high-precision ER signal that seeds
    :func:`~ontoweaver_spark.fusion.sameas_canonicalize`.

    Skew guard: a dirty IFP value shared by k subjects would emit
    k(k-1)/2 pairs — a single placeholder value ("unknown", "n/a")
    could detonate the self-join. Groups larger than ``max_group``
    are DROPPED before pairing (they carry no identity signal; a
    placeholder shared by thousands of subjects is noise, not
    evidence), bounding the blow-up at max_group^2 per value and
    making the join size O(|E| * max_group).

    Shape: one groupBy on (label, obj) collecting the subject set
    (bounded by the guard), then an in-plan pair expansion — no self-
    join of the raw edge table, no shuffle beyond the single groupBy.
    """
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
            F.col(label_col).cast("string").alias("label"),
        )
        .where(F.col("label").isin([str(p) for p in predicates]))
        .distinct()
    )
    groups = (
        e.groupBy("label", F.col("dst").alias("obj"))
        .agg(F.collect_set("src").alias("_ss"))
        .where((F.size("_ss") >= 2) & (F.size("_ss") <= max_group))
        .select("label", "obj", F.array_sort("_ss").alias("_ss"))
    )
    pairs = groups.select(
        "label", "obj",
        F.explode(
            F.expr(
                "flatten(transform(_ss, (x, i) -> "
                "transform(slice(_ss, i + 2, size(_ss) - i - 1), "
                "y -> struct(x as a, y as b))))"
            )
        ).alias("_p"),
    )
    return pairs.select(
        F.col("_p.a").alias("a"), F.col("_p.b").alias("b"), "label", "obj"
    )


def class_property_profile(
    nodes: DataFrame,
    edges: DataFrame | None = None,
    props: DataFrame | None = None,
) -> DataFrame:
    """KG completeness profile -> one row per ``(label, kind, path)``:
    ``(label, kind, path, n_nodes, n_present, n_total, n_distinct,
    fill_ppm)`` — for every node class, what fraction of its instances
    carry each outgoing edge label (``kind='edge'``) and each property
    key (``kind='prop'``), plus total occurrence and distinct-value
    counts. This is the EXPLORATORY dual of :func:`~ontoweaver_spark.
    validate.shacl_validate`: the profile over a fresh crawl tells you
    which shapes are worth declaring (a path at fill 997000 ppm wants
    ``min_count 1``; one at 12000 ppm doesn't), and run per snapshot it
    is the completeness-regression alarm (yesterday in_language filled
    99.7%, today 71% — the extractor broke, block the publish).

    Shape: one (src,label)-keyed count per source + one class-level
    rollup per kind; the node-label join is the same id-keyed join the
    bucketed graph tables co-locate. No collects, output is
    schema-sized (|labels| x |paths|).
    """
    n = nodes.select(F.col("id").cast("string").alias("id"),
                     F.col("label").cast("string").alias("label"))
    class_n = n.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    parts = []

    def profile(rows, kind):
        # rows: (id, path, value) occurrences on typed nodes
        per_node = rows.groupBy("id", "path").agg(
            F.count(F.lit(1)).alias("_occ"),
            F.count_distinct("value").alias("_dv"),
        )
        typed = per_node.join(n, "id")
        agg = typed.groupBy("label", "path").agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum("_occ").alias("n_total"),
        )
        # distinct values are counted across the CLASS, not per node
        dv = (
            rows.join(n, "id")
            .groupBy("label", "path")
            .agg(F.count_distinct("value").alias("n_distinct"))
        )
        return (
            agg.join(dv, ["label", "path"])
            .join(F.broadcast(class_n), "label")
            .select(
                "label", F.lit(kind).alias("kind"), "path",
                "n_nodes", "n_present",
                F.col("n_total").cast("long").alias("n_total"),
                "n_distinct",
                F.expr("n_present * 1000000 DIV n_nodes").alias("fill_ppm"),
            )
        )

    if edges is not None:
        parts.append(profile(
            edges.select(F.col("src").cast("string").alias("id"),
                         F.col("label").cast("string").alias("path"),
                         F.col("dst").cast("string").alias("value")),
            "edge"))
    if props is not None:
        parts.append(profile(
            props.select(F.col("id").cast("string").alias("id"),
                         F.col("key").cast("string").alias("path"),
                         F.col("value").cast("string").alias("value")),
            "prop"))
    if not parts:
        raise ValueError("class_property_profile: pass edges and/or props")
    out = parts[0]
    for q in parts[1:]:
        out = out.unionAll(q)
    return out


def characteristic_sets(
    triples: DataFrame,
    subj_col: str = "subject",
    pred_col: str = "predicate",
) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE'11) over a triple
    store -> ``(cs, n_subjects, n_preds)``: group subjects by the exact
    SET of predicates they carry (``cs`` = the sorted predicate list
    joined with ``|``). The distribution of characteristic sets IS the
    latent schema of a harvested web KG — scraped triples have no
    declared classes, but "the 2.1M subjects with {name, url, isbn}"
    is a book-shaped class the mapping author should target — and it is
    the structure SPARQL engines use for star-join cardinality
    estimation. Emergent classes in hand, :func:`class_property_profile`
    and SHACL shapes follow.

    Shape: one distinct + one subject-keyed sort-collect + one
    map-side-combinable count — the canonical two-aggregate profile;
    nothing is quadratic in predicates because the set rides as one
    string key. Output is schema-sized (distinct predicate combinations,
    not subjects).
    """
    per_subj = (
        triples.select(F.col(subj_col).cast("string").alias("s"),
                       F.col(pred_col).cast("string").alias("p"))
        .distinct()
        .groupBy("s")
        .agg(F.array_sort(F.collect_set("p")).alias("_ps"))
    )
    return (
        per_subj.select(
            F.array_join("_ps", "|").alias("cs"),
            F.size("_ps").alias("n_preds"),
        )
        .groupBy("cs", "n_preds")
        .agg(F.count(F.lit(1)).alias("n_subjects"))
        .select("cs", "n_subjects", F.col("n_preds").cast("long").alias("n_preds"))
    )


def triple_support(
    df: DataFrame,
    s_col: str = "subject",
    p_col: str = "predicate",
    o_col: str = "object",
    id_col: str = "doc_id",
    min_support: int = 1,
) -> DataFrame:
    """Harvest-confidence rollup -> ``(subject, predicate, object,
    support)`` where ``support`` is the EXACT count of distinct source
    documents asserting the triple, filtered to ``support >=
    min_support``. This is the precision gate every pattern harvester
    in this engine (hearst/copula/meronym/microdata/JSON-LD) is
    documented to defer to: at 10^12 pages a noisy frame fires
    constantly, but independent-document support is the one signal
    that is cheap (one aggregation), monotone under corpus growth, and
    engine-exact (no floats). Reference analog: none — the reference
    trusts its tabular inputs (src/ontoweaver/tabular.py); a web-scale
    harvest cannot.

    Scale shape: ONE count-distinct aggregation — Spark plans it as
    two-phase hash aggregation over (s,p,o,doc) partial-deduped
    map-side, so hub triples ("london is_a city" from millions of
    pages) never concentrate raw rows on one reducer; the HAVING
    filter prunes the long singleton tail before any downstream join.
    """
    out = (
        df.groupBy(
            F.col(s_col).alias("subject"),
            F.col(p_col).alias("predicate"),
            F.col(o_col).alias("object"),
        )
        .agg(F.countDistinct(F.col(id_col)).alias("support"))
    )
    if min_support > 1:
        out = out.where(F.col("support") >= min_support)
    return out


def numeric_consensus(
    df: DataFrame,
    s_col: str = "subject",
    p_col: str = "relation",
    v_col: str = "value",
) -> DataFrame:
    """Numeric-claim reconciliation -> ``(subject, relation, n_claims,
    n_values, vmin, vmax, median)``, all exact BIGINT: when 10^12 pages
    assert conflicting values for the same numeric property ("tokyo has
    a population of ..."), the robust consensus is the LOW MEDIAN (the
    element at rank ``(n-1) div 2`` of the sorted claims) — outlier-immune
    where the mean is not, and discrete so the result is one of the
    actually-asserted values and stays integer-exact across engines.
    The categorical sibling of claim voting (``linking`` claim_vote);
    input is :func:`~ontoweaver_spark.webdoc.numeric_facts` output (or
    any (s, p, integer-v) claim stream).

    Scale shape: claims collapse to a VALUE HISTOGRAM per (s, p) first
    (one map-side-combinable count — hub facts asserted by millions of
    pages become ONE histogram row per distinct value, so no reducer
    ever buffers a group); the median then comes from a window cumsum
    over the histogram (rows = distinct values per key, independent of
    corpus size) — the ``length_quantiles`` discipline, discrete
    variant."""
    from pyspark.sql import Window

    hist = (
        df.select(
            F.col(s_col).alias("subject"),
            F.col(p_col).alias("relation"),
            F.col(v_col).cast("long").alias("v"),
        )
        .groupBy("subject", "relation", "v")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("subject", "relation").orderBy("v")
    ranges = hist.select(
        "subject", "relation", "v", "c",
        (F.sum("c").over(w) - F.col("c")).alias("s_"),  # first rank of v
        (F.sum("c").over(w) - F.lit(1)).alias("e_"),    # last rank of v
    )
    totals = ranges.groupBy("subject", "relation").agg(
        F.sum("c").alias("m")
    )
    j = ranges.join(totals, ["subject", "relation"])
    lo = F.expr("(m - 1) div 2")
    return (
        j.groupBy("subject", "relation")
        .agg(
            F.first("m").alias("n_claims"),
            F.count("*").alias("n_values"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
            F.max(
                F.when((F.col("s_") <= lo) & (F.col("e_") >= lo), F.col("v"))
            ).alias("median"),
        )
    )
