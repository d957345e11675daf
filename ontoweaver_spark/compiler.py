"""Mapping compiler: MappingSpec -> Spark extraction plan.

Replaces the reference's per-row interpretation loop
(``IterativeAdapter.run``, /root/reference/src/ontoweaver/iterative.py:637-828)
with ONE declarative projection: each input row yields an array of candidate
structs (value, branch-resolved labels), then nodes and edges are exploded
out. The extraction is a row-local flatMap — zero shuffles; the only shuffle
in the whole engine is the fusion stage (:mod:`ontoweaver_spark.fusion`).

Only the per-operator values (:func:`transformers.compile_values`, user
candidates) are Columns; they are projected once into engine-named columns.
Everything above them — labels, candidates, properties, node/edge assembly —
is SQL text over those names and quoted literals (:func:`ids.sql_str`),
handed to the JVM in a few ``selectExpr`` calls: a compile costs hundreds of
py4j round trips, not thousands, and no user column name is ever parsed.

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

from .ids import affix_sql, sql_str
from .nulls import is_not_null_sql
from .spec import MappingSpec, TransformerSpec, load_mapping
from .transformers import ROW_ID_COL, CompiledCandidates, compile_values
from .validate import apply_rules

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


NULL_STR = "CAST(NULL AS STRING)"
EMPTY_PROPS = "map_from_entries(CAST(array() AS array<struct<key:string,value:array<string>>>))"
_TYPE_ATTR = {"node": "node_type", "edge": "edge_type", "final": "final_type", "rev": "reverse_edge"}


def _lit(v: Optional[str]) -> str:
    return NULL_STR if v is None else sql_str(v)


def _valid(values: str) -> str:
    """The array ``values`` with the null-skip contract applied."""
    return f"filter({values}, x -> {is_not_null_sql('x')})"


def _branch_field(t: TransformerSpec, value: str, field: str, match_src: str) -> str:
    """Branch-resolved label (SQL) for one field of the candidate struct.

    ``match`` is an ordered ``re.search`` cascade — first hit wins
    (/root/reference/src/ontoweaver/make_labels.py:106-136); the predicate
    source is the extracted value, or another column under
    ``match_type_from_column`` (make_labels.py:151-162), projected as
    ``match_src``.
    """
    static = getattr(t, _TYPE_ATTR[field])
    if not t.match:
        return _lit(static)
    if field == "final" and t.final_type:
        # transformer-wide final_type overrides per-branch final_type
        # (/root/reference/src/ontoweaver/mapping.py:278-300; fixture F6)
        return sql_str(t.final_type)
    src = match_src if t.match_column else value
    cases = " ".join(
        f"WHEN {src} RLIKE {sql_str(case.pattern)} THEN {_lit(getattr(case, _TYPE_ATTR[field]))}"
        for case in t.match
    )
    expr = f"CASE {cases} ELSE {NULL_STR} END"
    return f"coalesce({expr}, {sql_str(static)})" if static is not None else expr


def _cand_struct(value: str, label: str, edge: str, final: str, rev: str, fs: str, i: int) -> str:
    return (f"named_struct('value', {value}, 'label', {label}, 'edge', {edge}, "
            f"'final', {final}, 'rev', {rev}, 'fs', {fs}, 'tidx', {i})")


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
    both, so the candidate assembly runs once per row, not twice. Each is
    one ``selectExpr`` over the SQL-assembled arrays."""

    assembled: DataFrame  # one row per input row: _nodes, _edges arrays
    validation_report: object = None  # ValidationReport when validate_mode="report"

    @cached_property
    def nodes(self) -> DataFrame:
        return self.assembled.selectExpr("inline(_nodes)")

    @cached_property
    def edges(self) -> DataFrame:
        return self.assembled.selectExpr("inline(_edges)")

    @cached_property
    def elements(self) -> DataFrame:
        return self.assembled.selectExpr(
            "inline(concat(transform(_nodes, n -> named_struct('id', n.id, "
            f"'src', {NULL_STR}, 'dst', {NULL_STR}, 'label', n.label, "
            "'properties', n.properties, 'kind', 'node')), "
            "transform(_edges, e -> named_struct('id', e.id, 'src', e.src, 'dst', e.dst, "
            "'label', e.label, 'properties', e.properties, 'kind', 'edge'))))"
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

    ``validate_mode`` (raise | filter | report) is what a mapping-level
    ``validate:`` section does with invalid rows: :func:`validate.apply_rules`,
    applied before the string-cast projection so simple predicates push down
    to the parquet scan. The default ``"raise"`` matches the reference's
    InputValidator; ``"report"`` counts eagerly and attaches the
    :class:`~ontoweaver_spark.validate.ValidationReport` to the result.
    """
    spec = mapping if isinstance(mapping, MappingSpec) else load_mapping(mapping)

    missing = [c for c in spec.all_columns() if c != ROW_ID_COL and c not in df.columns]
    if missing:
        raise ValueError(f"mapping references missing columns: {missing}")
    df, validation_report = apply_rules(df, spec.input_rules, validate_mode)

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
    # (toDF names the casts: one JVM call instead of one alias per column)
    as_str = [F.col(c).cast("string") for c in used]
    prepared = df.select(*as_str).toDF(*used) if used else df
    if spec.uses_row_index():
        prepared = with_row_index(df).select(*as_str, ROW_ID_COL).toDF(*used, ROW_ID_COL)

    # Operator values (and user candidates) stay Columns; they are projected
    # once into engine-named columns, so the SQL below never names a user
    # column: _s subject, _t<i> transformer, _p<j> property, _m<tag> the
    # match_type_from_column source.
    cols: dict[str, Column] = {}
    prestages = []

    def project(t: TransformerSpec, tag: str):
        cv = compile_values(t, tag=tag)
        prestages.extend(cv.prestages)
        cols[f"_{tag}"] = cv.candidates if isinstance(cv, CompiledCandidates) else cv.values
        if t.match_column:
            cols[f"_m{tag}"] = F.col(t.match_column)
        return cv

    # --- subject -----------------------------------------------------------
    project(spec.subject, "s")
    sval = f"get({_valid('_s')}, 0)"
    sub_label = _branch_field(spec.subject, sval, "node", "_ms")
    sub_eff = f"coalesce({_branch_field(spec.subject, sval, 'final', '_ms')}, {sub_label})"

    # --- object candidates --------------------------------------------------
    cand_arrays = []
    for i, t in enumerate(spec.transformers):
        fs = _lit(t.from_subject)
        if isinstance(project(t, f"t{i}"), CompiledCandidates):
            # user transformer did its own branching; attach fs/tidx
            retag = _cand_struct("c.value", "c.label", "c.edge", "c.final", "c.rev", fs, i)
            cand_arrays.append(
                f"filter(transform(_t{i}, c -> {retag}), "
                f"c -> c.label IS NOT NULL AND {is_not_null_sql('c.value')})"
            )
            continue
        mk = _cand_struct(
            "v", *[_branch_field(t, "v", f, f"_mt{i}") for f in _TYPE_ATTR], fs, i
        )
        cand_arrays.append(
            f"filter(transform({_valid(f'_t{i}')}, v -> {mk}), c -> c.label IS NOT NULL)"
        )
    candidates = (
        f"concat({', '.join(cand_arrays)})" if cand_arrays else f"CAST(array() AS {CAND_TYPE})"
    )

    # --- properties & metadata ----------------------------------------------
    # type name -> {prop name -> array<string> values (SQL)}
    props_by_type: dict[str, dict[str, str]] = {}
    for j, p in enumerate(spec.properties):
        project(p, f"p{j}")
        for type_name in p.prop_for:
            bucket = props_by_type.setdefault(type_name, {})
            for name in p.prop_names:
                bucket[name] = _valid(f"_p{j}")

    if spec.metadata or spec.source_columns_key:
        node_types = set(spec.node_type_names())
        for type_name in spec.mapped_types():
            bucket = props_by_type.setdefault(type_name, {})
            for k, v in spec.metadata.items():
                bucket[k] = f"array({sql_str(v)})"
            # source-column names attach to node types only
            if spec.source_columns_key and type_name in node_types:
                cols_of = spec.columns_for_type(type_name)
                if cols_of:
                    bucket[spec.source_columns_key] = f"array({sql_str(', '.join(cols_of))})"

    def type_props(props: dict[str, str]) -> str:
        entries = [f"named_struct('key', {sql_str(n)}, 'value', {v})" for n, v in props.items()]
        return f"map_from_entries(array({', '.join(entries)}))"

    props_map = (
        "map({})".format(", ".join(
            f"{sql_str(tn)}, {type_props(props_by_type[tn])}" for tn in sorted(props_by_type)
        ))
        if props_by_type
        else f"map_from_entries(CAST(array() AS array<struct<key:string,value:{PROPS_TYPE}>>))"
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
    stage1 = prepared.select(*cols.values()).toDF(*cols).selectExpr(
        f"{sval} AS _sval", f"{sub_label} AS _slabel", f"{sub_eff} AS _seff",
        f"{candidates} AS _cands", f"{props_map} AS _props", "rand(42) AS _ow_barrier",
    )

    # --- stage 2: assemble nodes & edges --------------------------------------
    def props_for(label: str) -> str:
        return f"coalesce(try_element_at(_props, {label}), {EMPTY_PROPS})"

    def cand_id(c: str) -> str:
        return affix_sql(f"{c}.value", f"coalesce({c}.final, {c}.label)",
                         affix=affix, sep=type_affix_sep)

    sub_id = affix_sql("_sval", "_seff", affix=affix, sep=type_affix_sep)
    all_nodes = (
        f"concat(array(named_struct('id', {sub_id}, 'label', _seff, "
        f"'properties', {props_for('_slabel')})), transform(_cands, c -> named_struct("
        f"'id', {cand_id('c')}, 'label', coalesce(c.final, c.label), "
        f"'properties', {props_for('c.label')})))"
    )

    # edge sources per candidate (from_subject cascade): the row subject,
    # else every same-row candidate whose declared label matches, else the
    # subject when its declared label matches, else none
    matches = "filter(_cands, x -> x.label = c.fs)"
    srcs = (
        f"CASE WHEN c.fs IS NULL THEN array({sub_id}) "
        f"WHEN size({matches}) > 0 THEN transform({matches}, x -> {cand_id('x')}) "
        f"WHEN _slabel = c.fs THEN array({sub_id}) ELSE CAST(array() AS array<string>) END"
    )

    def edge(src: str, dst: str, label: str) -> str:
        return (f"named_struct('id', format_string('(%s)--[%s]->(%s)', {src}, {label}, {dst}), "
                f"'src', {src}, 'dst', {dst}, 'label', {label}, 'properties', {props_for(label)})")

    # typed empty literals, not slices of the built arrays: a slice would
    # assemble every reverse edge (ids, property lookups) only to discard it
    # whenever ``rev`` is NULL
    none = f"CAST(array() AS {EDGE_ARRAY_TYPE})"
    dst = cand_id("c")
    all_edges = (
        f"flatten(transform(_cands, c -> concat("
        f"CASE WHEN c.edge IS NOT NULL THEN transform({srcs}, s -> {edge('s', dst, 'c.edge')}) "
        f"ELSE {none} END, "
        f"CASE WHEN c.edge IS NOT NULL AND c.rev IS NOT NULL "
        f"THEN transform({srcs}, s -> {edge(dst, 's', 'c.rev')}) ELSE {none} END)))"
    )

    # invalid subject -> whole row skipped (iterative.py:255-330), expressed
    # as empty arrays so no Filter node exists for Catalyst to push down
    row_ok = "_sval IS NOT NULL AND _slabel IS NOT NULL"
    assembled = stage1.selectExpr(
        f"CASE WHEN {row_ok} THEN {all_nodes} ELSE CAST(array() AS {NODE_ARRAY_TYPE}) END AS _nodes",
        f"CASE WHEN {row_ok} THEN {all_edges} ELSE {none} END AS _edges",
    )

    return ExtractResult(assembled=assembled, validation_report=validation_report)
