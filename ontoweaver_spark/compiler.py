"""Mapping compiler: MappingSpec -> Spark extraction plan.

Replaces the reference's per-row interpretation loop
(``IterativeAdapter.run``, /root/reference/src/ontoweaver/iterative.py:637-828)
with ONE declarative projection: each input row yields an array of candidate
structs (value, branch-resolved labels) built entirely from Column
expressions and higher-order functions, then nodes and edges are exploded
out. The extraction is a row-local flatMap — zero shuffles; the only shuffle
in the whole engine is the fusion stage (:mod:`ontoweaver_spark.fusion`).

Semantics parity notes (vs /root/reference/src/ontoweaver/iterative.py):
- subject: first valid value of the subject transformer; invalid subject
  skips the whole row (iterative.py:255-330).
- node ID affix uses the final type when declared, else the branch type
  (iterative.py:281-292, 339-347); node label ends as the final type
  (``_map_final_types``, iterative.py:375-381).
- properties attach per *declared* (pre-final) element type name
  (mapping.py:409-473); metadata likewise (mapping.py:193-249).
- ``from_subject`` cascade (iterative.py:706-805): all same-row candidates
  whose declared label matches -> one edge per matching candidate; else the
  row subject when its declared type matches; else silently skip.
  (Deviation: the reference re-affixes explicit alt-sources with the
  *declared* type even under ``final_type`` (iterative.py:430); we affix
  with the effective type so edge endpoints always equal node IDs.)
- default edge ID = ``(src)--[label]->(dst)`` (iterative.py:248).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ids import affix_id
from .nulls import is_not_null
from .spec import MappingSpec, TransformerSpec, load_mapping
from .transformers import (
    ROW_ID_COL,
    CompiledCandidates,
    CompiledValues,
    compile_values,
)

CAND_TYPE = (
    "array<struct<value:string,label:string,edge:string,final:string,"
    "rev:string,fs:string,tidx:int>>"
)
PROPS_TYPE = "map<string,array<string>>"

NODE_SCHEMA = f"id string, label string, properties {PROPS_TYPE}"
EDGE_SCHEMA = f"id string, src string, dst string, label string, properties {PROPS_TYPE}"
NODE_ARRAY_TYPE = f"array<struct<id:string,label:string,properties:{PROPS_TYPE}>>"
EDGE_ARRAY_TYPE = (
    f"array<struct<id:string,src:string,dst:string,label:string,properties:{PROPS_TYPE}>>"
)


def with_row_index(df: DataFrame, col_name: str = ROW_ID_COL) -> DataFrame:
    """Attach a stable, contiguous 0-based row index (the `rowIndex` subject
    of the reference maps to the pandas index, iterative.py fixtures).

    Distributed zipWithIndex, fully LAZY — building this frame runs no
    Spark job (asserted in tests/test_transformer_ops.py). index =
    partition offset + intra-partition position, where the offsets come
    from a cumulative-sum window over the per-partition counts aggregate (a
    frame with one row per input partition) broadcast-joined back. The wide
    data itself is shuffled only by the intra-partition row_number window
    on `_ow_pid` (the same exchange the previous driver-side variant paid);
    the nondeterministic pid/mono-id expressions are pinned pre-exchange by
    Catalyst's PullOutNondeterministic, so positions reflect the original
    partitioning.
    """
    with_pid = df.withColumn("_ow_pid", F.spark_partition_id())
    counts = with_pid.groupBy("_ow_pid").agg(F.count("*").alias("_ow_cnt"))
    w_cum = (
        Window.orderBy("_ow_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_ow_pid",
        F.coalesce(F.sum("_ow_cnt").over(w_cum), F.lit(0)).alias("_ow_off"),
    )
    w = Window.partitionBy("_ow_pid").orderBy(F.monotonically_increasing_id())
    return (
        with_pid
        .withColumn("_ow_pos", F.row_number().over(w) - F.lit(1))
        .join(F.broadcast(offsets), "_ow_pid")
        .withColumn(col_name, (F.col("_ow_off") + F.col("_ow_pos")).cast("long"))
        .drop("_ow_pid", "_ow_pos", "_ow_off")
    )


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _branch_field(t: TransformerSpec, value: Column, field: str) -> Column:
    """Branch-resolved label for one field of the candidate struct.

    ``match`` is an ordered ``re.search`` cascade — first hit wins
    (/root/reference/src/ontoweaver/make_labels.py:106-136); the predicate
    source is the extracted value, or another column under
    ``match_type_from_column`` (make_labels.py:151-162).
    """
    static = {
        "node": t.node_type,
        "edge": t.edge_type,
        "final": t.final_type,
        "rev": t.reverse_edge,
    }[field]

    if not t.match:
        return F.lit(static) if static is not None else _null_str()

    src = F.col(t.match_column) if t.match_column else value
    expr = None
    for case in t.match:
        v = {
            "node": case.node_type,
            "edge": case.edge_type,
            "final": case.final_type,
            "rev": case.reverse_edge,
        }[field]
        branch_val = F.lit(v) if v is not None else _null_str()
        cond = src.rlike(case.pattern)
        expr = F.when(cond, branch_val) if expr is None else expr.when(cond, branch_val)
    expr = expr.otherwise(_null_str())

    if field == "final" and t.final_type:
        # transformer-wide final_type overrides per-branch final_type
        # (/root/reference/src/ontoweaver/mapping.py:278-300; fixture F6)
        return F.lit(t.final_type)
    if static is not None:
        return F.coalesce(expr, F.lit(static))
    return expr


@dataclass
class ExtractResult:
    """Raw (pre-fusion) extraction of one input frame.

    ``nodes`` (id, label, properties map<string,array<string>>), ``edges``
    (id, src, dst, label, properties) and ``elements`` are built on first
    access, each as its own explode of the same assembled per-row arrays:
    a consumer pays plan analysis only for the frames it reads, and column
    pruning spares a node-only consumer the edge assembly. ``elements`` is
    nodes and edges from ONE explode (id, src, dst, label, properties,
    kind "node" | "edge"; src/dst NULL on nodes), for consumers that need
    both, so the candidate assembly runs once per row, not twice."""

    assembled: DataFrame  # one row per input row: _nodes, _edges arrays
    validation_report: object = None  # ValidationReport when validate_mode="report"

    @cached_property
    def nodes(self) -> DataFrame:
        return self.assembled.select(F.explode("_nodes").alias("n")).select("n.*")

    @cached_property
    def edges(self) -> DataFrame:
        return self.assembled.select(F.explode("_edges").alias("e")).select("e.*")

    @cached_property
    def elements(self) -> DataFrame:
        return self.assembled.select(F.explode(F.concat(
            F.transform("_nodes", lambda n: F.struct(
                n["id"].alias("id"), _null_str().alias("src"), _null_str().alias("dst"),
                n["label"].alias("label"), n["properties"].alias("properties"),
                F.lit("node").alias("kind"),
            )),
            F.transform("_edges", lambda e: F.struct(
                e["id"].alias("id"), e["src"].alias("src"), e["dst"].alias("dst"),
                e["label"].alias("label"), e["properties"].alias("properties"),
                F.lit("edge").alias("kind"),
            )),
        )).alias("x")).select("x.*")


def _empty_props() -> Column:
    return F.map_from_entries(
        F.array().cast(f"array<struct<key:string,value:array<string>>>")
    )


def compile_mapping(
    df: DataFrame,
    mapping: Union[dict, str, MappingSpec],
    affix: str = "none",
    type_affix_sep: str = ":",
    validate_mode: str = "raise",
) -> ExtractResult:
    """Compile and apply a mapping to an input DataFrame.

    Returns raw (pre-fusion) nodes/edges DataFrames; run
    :func:`ontoweaver_spark.fusion.reconciliate` to deduplicate and merge.

    ``validate_mode`` controls what a mapping-level ``validate:`` section
    does with invalid rows (the reference's InputValidator raises by
    default — reference validate.py ``__call__`` with raise_errors=True —
    so silent dropping must be an explicit opt-in):

    - ``"raise"`` (default): the job fails on the FIRST invalid row, naming
      the violated rule columns. Implemented as a runtime ``raise_error``
      guard inside the scan filter — fail-loud costs zero extra jobs/scans
      at any scale.
    - ``"filter"``: silently drop invalid rows (predicates push down to the
      parquet scan).
    - ``"report"``: eagerly count violations (one aggregation pass), drop
      invalid rows, and attach the :class:`ValidationReport` to the result.
    """
    spec = mapping if isinstance(mapping, MappingSpec) else load_mapping(mapping)

    missing = [c for c in spec.all_columns() if c != ROW_ID_COL and c not in df.columns]
    if missing:
        raise ValueError(f"mapping references missing columns: {missing}")

    validation_report = None
    if spec.input_rules:
        # mapping-level `validate:` section — applied BEFORE the string-cast
        # projection so simple predicates (isin / in_range on native types)
        # push down to the parquet scan
        from .validate import compile_rule, validate_input, validity

        if validate_mode == "filter":
            df = df.where(validity(spec.input_rules))
        elif validate_mode == "report":
            df, validation_report = validate_input(df, spec.input_rules)
        elif validate_mode == "raise":
            fails = F.array_compact(F.array(*[
                F.when(~compile_rule(c, spec.input_rules[c]), F.lit(c))
                for c in sorted(spec.input_rules)
            ]))
            df = df.where(
                F.when(validity(spec.input_rules), F.lit(True)).otherwise(
                    F.raise_error(F.concat(
                        F.lit("input validation failed (violated rule column(s): "),
                        F.concat_ws(",", fails),
                        F.lit("); use validate_mode='filter'/'report' to drop instead"),
                    )).cast("boolean")
                )
            )
        else:
            raise ValueError(
                f"validate_mode must be raise|filter|report, got {validate_mode!r}"
            )

    # Canonical string cell domain (reference loads everything dtype=str,
    # loader.py:173-216) + column pruning: keep only referenced columns.
    # User transformers with no declared columns are opaque — they may read
    # any column, so pruning is disabled for those mappings.
    from .registry import USER_TRANSFORMERS

    opaque_user = any(
        t.op in USER_TRANSFORMERS and not t.columns
        for t in [spec.subject, *spec.transformers, *spec.properties]
    )
    used = df.columns if opaque_user else [c for c in spec.all_columns() if c in df.columns]
    prepared = df.select(*[F.col(c).cast("string").alias(c) for c in used]) if used else df
    if spec.uses_row_index():
        prepared = with_row_index(df).select(
            *[F.col(c).cast("string").alias(c) for c in used], F.col(ROW_ID_COL)
        )

    prestages = []

    # --- subject -----------------------------------------------------------
    sub_cv = compile_values(spec.subject, tag="s")
    prestages += sub_cv.prestages
    sub_vals = F.filter(sub_cv.values, is_not_null)
    sval = F.get(sub_vals, 0)
    sub_label = _branch_field(spec.subject, sval, "node")
    sub_final = _branch_field(spec.subject, sval, "final")
    sub_eff = F.coalesce(sub_final, sub_label)

    # --- object candidates --------------------------------------------------
    def _make_candidate_fn(t: TransformerSpec, i: int):
        # NB: pyspark HOF callbacks must take exactly one positional arg
        # (two would be read as (value, index)), hence the closure factory.
        def mk(v):
            return F.struct(
                v.alias("value"),
                _branch_field(t, v, "node").alias("label"),
                _branch_field(t, v, "edge").alias("edge"),
                _branch_field(t, v, "final").alias("final"),
                _branch_field(t, v, "rev").alias("rev"),
                (F.lit(t.from_subject) if t.from_subject else _null_str()).alias("fs"),
                F.lit(i).alias("tidx"),
            )
        return mk

    cand_arrays = []
    for i, t in enumerate(spec.transformers):
        cv = compile_values(t, tag=f"t{i}")
        prestages += cv.prestages
        if isinstance(cv, CompiledCandidates):
            # user transformer did its own branching; attach fs/tidx
            fs_lit = F.lit(t.from_subject) if t.from_subject else _null_str()

            def retag(c, fs_lit=fs_lit, i=i):
                return F.struct(
                    c["value"].alias("value"), c["label"].alias("label"),
                    c["edge"].alias("edge"), c["final"].alias("final"),
                    c["rev"].alias("rev"), fs_lit.alias("fs"), F.lit(i).alias("tidx"),
                )

            cand = F.filter(
                F.transform(cv.candidates, lambda c: retag(c)),
                lambda c: c["label"].isNotNull() & is_not_null(c["value"]),
            )
            cand_arrays.append(cand)
            continue
        vals = F.filter(cv.values, is_not_null)
        cand = F.filter(
            F.transform(vals, _make_candidate_fn(t, i)),
            lambda c: c["label"].isNotNull(),
        )
        cand_arrays.append(cand)

    candidates = (
        F.concat(*cand_arrays) if cand_arrays else F.array().cast(CAND_TYPE)
    )

    # --- properties & metadata ----------------------------------------------
    # type name -> {prop name -> array<string> values expr}
    props_by_type: dict[str, dict[str, Column]] = {}
    for j, p in enumerate(spec.properties):
        cv = compile_values(p, tag=f"p{j}")
        prestages += cv.prestages
        vals = F.filter(cv.values, is_not_null)
        for type_name in p.prop_for:
            bucket = props_by_type.setdefault(type_name, {})
            for name in p.prop_names:
                bucket[name] = vals

    if spec.metadata or spec.source_columns_key:
        node_types = set(spec.node_type_names())
        for type_name in spec.mapped_types():
            bucket = props_by_type.setdefault(type_name, {})
            for k, v in spec.metadata.items():
                bucket[k] = F.array(F.lit(v))
            # source-column names attach to node types only
            if spec.source_columns_key and type_name in node_types:
                cols = spec.columns_for_type(type_name)
                if cols:
                    bucket[spec.source_columns_key] = F.array(F.lit(", ".join(cols)))

    if props_by_type:
        entries = []
        for type_name in sorted(props_by_type):
            m = F.map_from_entries(F.array(*[
                F.struct(F.lit(n).alias("key"), vals.alias("value"))
                for n, vals in props_by_type[type_name].items()
            ]))
            entries += [F.lit(type_name), m]
        props_map_expr = F.create_map(*entries)
    else:
        props_map_expr = F.map_from_entries(
            F.array().cast(f"array<struct<key:string,value:{PROPS_TYPE}>>")
        )

    # --- stage 1: extract row-local intermediates (no shuffle) ---------------
    for stage in prestages:
        prepared = stage(prepared)

    # The _ow_barrier column is non-deterministic, which stops Catalyst's
    # CollapseProject from merging stage 2 back into stage 1: without it the
    # candidate/props expressions (regex extraction over full text) get
    # inlined into every node/edge struct — measured 45 copies of
    # regexp_extract_all and a 300 KB plan that fell out of whole-stage
    # codegen (17x slower). With the barrier each row computes extraction
    # exactly once and stage 2 only shuffles struct references.
    # NB: no .where here — a plan-level Filter gets predicate-pushed below
    # this projection with full expression substitution (measured 42 copies
    # of the extraction regexes in one pushed Filter). Row validity is
    # handled in stage 2 by emitting empty node/edge arrays instead.
    stage1 = prepared.select(
        sval.alias("_sval"),
        sub_label.alias("_slabel"),
        sub_eff.alias("_seff"),
        candidates.alias("_cands"),
        props_map_expr.alias("_props"),
        F.rand(42).alias("_ow_barrier"),
    )

    sval = F.col("_sval")
    sub_label = F.col("_slabel")
    sub_eff = F.col("_seff")
    candidates = F.col("_cands")

    def props_for(label_col: Column) -> Column:
        return F.coalesce(F.try_element_at(F.col("_props"), label_col), _empty_props())

    # --- stage 2: assemble nodes & edges --------------------------------------
    def _affix(name: Column, type_: Column) -> Column:
        return affix_id(name, type_, affix=affix, sep=type_affix_sep)

    sub_id = _affix(sval, sub_eff)

    def cand_eff(c):
        return F.coalesce(c["final"], c["label"])

    def cand_id(c):
        return _affix(c["value"], cand_eff(c))

    subject_node = F.struct(
        sub_id.alias("id"), sub_eff.alias("label"), props_for(sub_label).alias("properties")
    )
    target_nodes = F.transform(
        candidates,
        lambda c: F.struct(
            cand_id(c).alias("id"), cand_eff(c).alias("label"),
            props_for(c["label"]).alias("properties"),
        ),
    )
    all_nodes = F.concat(F.array(subject_node), target_nodes)

    # edge source resolution (from_subject cascade)
    def _label_matches(c):
        def pred(x):
            return x["label"] == c["fs"]
        return pred

    def edge_sources(c) -> Column:
        """array of source IDs for this candidate's edge(s)."""
        default = F.array(sub_id)
        matches = F.filter(candidates, _label_matches(c))
        alt = F.when(F.size(matches) > 0, F.transform(matches, cand_id)) \
               .when(sub_label == c["fs"], F.array(sub_id)) \
               .otherwise(F.array().cast("array<string>"))
        return F.when(c["fs"].isNull(), default).otherwise(alt)

    def mk_edges(c) -> Column:
        """array of edge structs (forward + optional reverse) per source."""
        dst = cand_id(c)
        srcs = edge_sources(c)

        def fwd(src):
            return F.struct(
                F.format_string("(%s)--[%s]->(%s)", src, c["edge"], dst).alias("id"),
                src.alias("src"), dst.alias("dst"), c["edge"].alias("label"),
                props_for(c["edge"]).alias("properties"),
            )

        def rev(src):
            return F.struct(
                F.format_string("(%s)--[%s]->(%s)", dst, c["rev"], src).alias("id"),
                dst.alias("src"), src.alias("dst"), c["rev"].alias("label"),
                props_for(c["rev"]).alias("properties"),
            )

        # typed empty literals, not slices of the built arrays: a slice
        # would assemble every reverse edge (ids, property lookups) only
        # to discard it whenever ``rev`` is NULL
        none = F.array().cast(EDGE_ARRAY_TYPE)
        forward = F.when(c["edge"].isNotNull(), F.transform(srcs, fwd)).otherwise(none)
        reverse = F.when(
            c["edge"].isNotNull() & c["rev"].isNotNull(), F.transform(srcs, rev)
        ).otherwise(none)
        return F.concat(forward, reverse)

    all_edges = F.flatten(F.transform(candidates, mk_edges))

    # invalid subject -> whole row skipped (iterative.py:255-330), expressed
    # as empty arrays so no Filter node exists for Catalyst to push down
    row_ok = sval.isNotNull() & sub_label.isNotNull()
    all_nodes = F.when(row_ok, all_nodes).otherwise(F.array().cast(NODE_ARRAY_TYPE))
    all_edges = F.when(row_ok, all_edges).otherwise(F.array().cast(EDGE_ARRAY_TYPE))

    assembled = stage1.select(all_nodes.alias("_nodes"), all_edges.alias("_edges"))

    return ExtractResult(assembled=assembled, validation_report=validation_report)
