"""Composable property-merge functors (the EP3 fusion surface).

The reference lets users pick per-property mergers
(merge.string.* / merge.dictry.PerProperty,
/root/reference/src/ontoweaver/merge.py; e.g. the custom ``MyMax`` in
/root/reference/tests/test_fusion.py:12-14). Here a merger is a function
``Column(array<string>) -> Column(string)`` applied to the deduplicated,
sorted union of a property's values for one fused element.

Ordering note: the reference reduces pairwise in encounter order; at
distributed scale encounter order is not reproducible, so UseFirst/UseLast
operate on the *sorted* value set (deterministic at any parallelism).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: rendered prefix for EnsureIdentical property disagreements (a per-row
#: raise is not expressible mid-aggregation); fusion.has_property_conflict
#: detects it — single definition so producer and detector cannot drift
CONFLICT_MARKER = "!CONFLICT!"

Merger = Callable[[Column], Column]


def OrderedSet(sep: str = "|") -> Merger:
    """Distinct values joined with sep (merge.py:348-371; sorted here)."""
    return lambda vals: F.array_join(vals, sep)


def Append(sep: str = "|") -> Merger:
    """Alias of OrderedSet post-dedup (merge.dictry.Append, merge.py:166-202)."""
    return OrderedSet(sep)


def UseFirst() -> Merger:
    return lambda vals: F.element_at(vals, 1)


def UseLast() -> Merger:
    return lambda vals: F.element_at(vals, -1)


def EnsureIdentical(fallback_sep: str = "|") -> Merger:
    """All values must agree; conflicting values render joined with a
    conflict marker so violations are visible downstream (the reference
    raises FusionError per element, merge.py:254-265 — a per-row raise is
    not expressible mid-aggregation; use fusion.reconciliate_nodes'
    raise_errors for the label variant)."""
    return lambda vals: F.when(F.size(vals) <= 1, F.element_at(vals, 1)).otherwise(
        F.concat(F.lit(CONFLICT_MARKER), F.array_join(vals, fallback_sep))
    )


def NumericMax() -> Merger:
    """Max over integer-parsed values (the reference test's ``MyMax``)."""
    return lambda vals: F.array_max(
        F.transform(vals, lambda x: x.cast("long"))
    ).cast("string")


def _ancestor_chains(parents: dict[str, str]) -> "Column":
    """child->parent edges -> map literal {type: [type, parent, ..., root]}.

    Chains are precomputed driver-side and shipped in-plan (ontologies are
    broadcast-sized by construction)."""
    chains: dict[str, list[str]] = {}
    for t in set(parents) | set(parents.values()):
        chain, seen = [t], {t}
        while chain[-1] in parents and parents[chain[-1]] not in seen:
            chain.append(parents[chain[-1]])
            seen.add(chain[-1])
        chains[t] = chain
    entries = []
    for t in sorted(chains):
        entries.append(F.lit(t))
        entries.append(F.array(*[F.lit(x) for x in chains[t]]))
    return F.create_map(*entries)


def _pairwise_fold(vals: Column, step) -> Column:
    return F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        step,
    )


def SpecificType(parents: dict[str, str]) -> Merger:
    """Conflicting labels merge pairwise to their lowest common ancestor in
    the type hierarchy — ``merge.string.SpecificType``
    (/root/reference/src/ontoweaver/merge.py:268-306, pairwise
    ``nx.lowest_common_ancestor``). ``parents`` is the child->parent edge
    dict. Unknown labels get the single-element chain [label]; labels with
    no common ancestor merge to NULL (the reference raises FusionError —
    detect with ``isNull``)."""
    chain_map = _ancestor_chains(parents)

    def chain_of(label: Column) -> Column:
        return F.coalesce(F.element_at(chain_map, label), F.array(label))

    def lca(a: Column, b: Column) -> Column:
        cb = chain_of(b)
        return F.get(F.filter(chain_of(a), lambda x: F.array_contains(cb, x)), 0)

    return lambda vals: _pairwise_fold(vals, lca)


def GenericType(parents: dict[str, str]) -> Merger:
    """The reversed-hierarchy variant — ``merge.string.GenericType``
    (/root/reference/src/ontoweaver/merge.py:308-345, LCA on
    ``nx.reverse(graph)``): in a tree the pairwise common *descendant* is
    whichever label lies on the other's ancestor chain (the deeper one),
    else NULL."""
    chain_map = _ancestor_chains(parents)

    def chain_of(label: Column) -> Column:
        return F.coalesce(F.element_at(chain_map, label), F.array(label))

    def lcd(a: Column, b: Column) -> Column:
        return (
            F.when(F.array_contains(chain_of(b), a), b)
            .when(F.array_contains(chain_of(a), b), a)
        )

    return lambda vals: _pairwise_fold(vals, lcd)


def render_properties(
    df,
    sep: str = "|",
    prop_mergers: dict[str, Merger] | None = None,
):
    """Render properties map<string,array<string>> -> map<string,string>,
    dispatching named properties to their merger and defaulting to the
    reference collapse rule (scalar if single value, else sep-joined)."""
    prop_mergers = prop_mergers or {}

    def render(k: Column, v: Column) -> Column:
        expr = F.when(F.size(v) == 1, F.element_at(v, 1)).otherwise(F.array_join(v, sep))
        for name, merger in prop_mergers.items():
            expr = F.when(k == F.lit(name), merger(v)).otherwise(expr)
        return expr

    return df.withColumn("properties", F.transform_values("properties", render))
