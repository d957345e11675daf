"""Mapping specification: YAML dict -> validated dataclasses.

This is the *logical* intermediate representation of a declarative mapping,
mirroring the semantics of the reference parser
(/root/reference/src/ontoweaver/mapping.py:904-970) without its dynamic
class generation: element types are plain string labels; transformers are
descriptions later compiled to Spark Column expressions
(:mod:`ontoweaver_spark.compiler`).

Keyword synonyms follow ``base.MappingParser.k_*``
(/root/reference/src/ontoweaver/base.py:626-640).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Any, Optional

# Keyword synonym lists (subset of /root/reference/src/ontoweaver/base.py:626-640).
K_ROW = ["row", "entry", "line", "subject", "source"]
K_COLUMNS = [
    "columns", "fields", "column", "field", "element",
    "match_column", "id_from_column", "match_element", "id_from_element",
    "key", "keys",
]
K_TARGET = ["to_target", "to_object", "to_node", "to_label", "to_type"]
K_SUBJECT_TYPE = ["to_subject"] + K_TARGET
K_FROM_SUBJECT = ["from_subject", "from_source"]
K_EDGE = ["via_edge", "via_relation", "via_predicate"]
K_PROPERTIES = ["to_properties", "to_property"]
K_PROP_FOR = [
    "for_objects", "for_object", "for_relation", "for_relations",
    "for_edge", "for_edges", "for_node", "for_nodes",
]
K_FINAL_TYPE = [
    "final_type", "final_object", "final_node", "final_subject",
    "final_label", "final_target",
]
K_REVERSE_EDGE = ["reverse_relation", "reverse_edge", "reverse_predicate", "reverse_link"]
K_MATCH_FROM = ["match_type_from_column", "match_type_from_element"]
K_METADATA = ["metadata"]
K_METADATA_COLUMN = ["add_source_column_names_as"]
K_VALIDATE_OUTPUT = ["validate_output"]

_ALL_KEYWORDS = set(
    K_ROW + K_COLUMNS + K_TARGET + K_SUBJECT_TYPE + K_FROM_SUBJECT + K_EDGE
    + K_PROPERTIES + K_PROP_FOR + K_FINAL_TYPE + K_REVERSE_EDGE + K_MATCH_FROM
    + K_METADATA + K_METADATA_COLUMN + K_VALIDATE_OUTPUT + ["match", "subclass"]
)

# Operators understood by the compiler (reference transformer classes,
# /root/reference/src/ontoweaver/transformer.py).
KNOWN_OPS = {
    "map", "split", "cat", "cat_format", "rowIndex", "nested", "split_nested",
    "capitalize", "lower", "upper", "lower_capitalize", "translate", "string",
    "replace", "boolean", "split_translate", "split_replace", "maths",
    # engine-native extensions (web-text extraction)
    "regex_extract", "regex_extract_all", "token_count",
}


class MappingError(ValueError):
    """Raised for an invalid mapping declaration."""


def _get(d: dict, keys: list[str], default=None):
    """First value found among synonym keys (reference Declare.get order)."""
    for k in keys:
        if k in d:
            return d[k]
    return default


def _as_list(v) -> list:
    if v is None:
        return []
    if isinstance(v, list):
        return [str(x) for x in v]
    return [str(v)]


@dataclass
class MatchCase:
    """One ordered regex branch of a ``match:`` block.

    First ``re.search`` hit wins, evaluated in YAML order
    (/root/reference/src/ontoweaver/make_labels.py:106-136).
    """

    pattern: str
    node_type: Optional[str] = None
    edge_type: Optional[str] = None
    final_type: Optional[str] = None
    reverse_edge: Optional[str] = None


@dataclass
class TransformerSpec:
    """One transformer declaration (subject, object, or property role)."""

    op: str
    columns: list[str] = field(default_factory=list)
    params: dict = field(default_factory=dict)
    # static typing (used when there is no `match` branching)
    node_type: Optional[str] = None
    edge_type: Optional[str] = None
    final_type: Optional[str] = None
    reverse_edge: Optional[str] = None
    from_subject: Optional[str] = None
    # branching
    match: list[MatchCase] = field(default_factory=list)
    match_column: Optional[str] = None
    # property role
    prop_names: list[str] = field(default_factory=list)
    prop_for: list[str] = field(default_factory=list)

    @property
    def is_property(self) -> bool:
        return bool(self.prop_names)

    def possible_node_types(self) -> list[str]:
        """Declared (pre-final) node types this transformer can emit."""
        out = []
        if self.node_type:
            out.append(self.node_type)
        for c in self.match:
            if c.node_type and c.node_type not in out:
                out.append(c.node_type)
        return out

    def possible_edge_types(self) -> list[str]:
        out = []
        if self.edge_type:
            out.append(self.edge_type)
        for c in self.match:
            if c.edge_type and c.edge_type not in out:
                out.append(c.edge_type)
        for c in self.match:
            if c.reverse_edge and c.reverse_edge not in out:
                out.append(c.reverse_edge)
        if self.reverse_edge and self.reverse_edge not in out:
            out.append(self.reverse_edge)
        return out

    def referenced_columns(self) -> list[str]:
        """DataFrame columns this transformer reads. For nested ops only the
        first entry is a column — the rest are JSON path keys
        (/root/reference/src/ontoweaver/transformer.py:442-537)."""
        if self.op in ("nested", "split_nested"):
            cols = list(self.columns[:1])
        else:
            cols = list(self.columns)
        if self.match_column and self.match_column not in cols:
            cols.append(self.match_column)
        return cols


@dataclass
class MappingSpec:
    """Parsed mapping: one subject transformer + object + property transformers."""

    subject: TransformerSpec
    transformers: list[TransformerSpec] = field(default_factory=list)
    properties: list[TransformerSpec] = field(default_factory=list)
    metadata: dict = field(default_factory=dict)          # static key -> value
    source_columns_key: Optional[str] = None              # add_source_column_names_as
    # input validation rules: column -> rule dict (the reference's pandera
    # `validate:` mapping section, /root/reference/src/ontoweaver/mapping.py:128-143,
    # compiled by ontoweaver_spark.validate)
    input_rules: dict = field(default_factory=dict)

    def subject_types(self) -> list[str]:
        return self.subject.possible_node_types()

    def all_columns(self) -> list[str]:
        cols: list[str] = []
        for t in [self.subject, *self.transformers, *self.properties]:
            for c in t.referenced_columns():
                if c not in cols:
                    cols.append(c)
        return cols

    def uses_row_index(self) -> bool:
        return any(
            t.op == "rowIndex"
            for t in [self.subject, *self.transformers, *self.properties]
        )

    def columns_for_type(self, type_name: str) -> list[str]:
        """Source columns of the transformers that declare this type
        (for ``add_source_column_names_as``,
        /root/reference/src/ontoweaver/mapping.py:193-249)."""
        cols: list[str] = []
        for t in [self.subject, *self.transformers]:
            types = set(t.possible_node_types()) | set(t.possible_edge_types())
            if t.final_type:
                types.add(t.final_type)
            for c in t.match:
                if c.final_type:
                    types.add(c.final_type)
            if type_name in types:
                for col in t.columns:
                    if col not in cols:
                        cols.append(col)
        return cols

    def node_type_names(self) -> list[str]:
        """Node type names only (subject/object declared + final types) —
        ``add_source_column_names_as`` attaches to nodes, never to edges
        (observed in /root/reference/tests/test_final_type.py goldens)."""
        out: list[str] = []

        def add(name: Optional[str]):
            if name and name not in out:
                out.append(name)

        for t in [self.subject, *self.transformers]:
            for n in t.possible_node_types():
                add(n)
            add(t.final_type)
            for c in t.match:
                add(c.final_type)
        return out

    def mapped_types(self) -> list[str]:
        """Every element type name the mapping can produce (pre-final + final)."""
        out: list[str] = []

        def add(name: Optional[str]):
            if name and name not in out:
                out.append(name)

        for t in [self.subject, *self.transformers]:
            for n in t.possible_node_types():
                add(n)
            for n in t.possible_edge_types():
                add(n)
            add(t.final_type)
            for c in t.match:
                add(c.final_type)
        return out

    def autoschema(self) -> dict:
        """Derive a schema summary from the mapping — the analog of the
        reference's ``--auto-schema`` BioCypher schema generation
        (/root/reference/src/ontoweaver/__init__.py:91-306): one entry per
        node type (with its property names) and per edge type (with its
        possible source/target type sets). Serializable straight to YAML.
        """
        def effective_nodes(t: TransformerSpec) -> list[str]:
            if t.final_type:
                return [t.final_type]
            out = []
            for c in t.match:
                out.append(c.final_type or c.node_type)
            if not t.match and t.node_type:
                out.append(t.node_type)
            return [x for x in out if x]

        props_of: dict[str, list[str]] = {}
        for p in self.properties:
            for tname in p.prop_for:
                bucket = props_of.setdefault(tname, [])
                for n in p.prop_names:
                    if n not in bucket:
                        bucket.append(n)
        for k in self.metadata:
            for tname in self.mapped_types():
                props_of.setdefault(tname, [])
                if k not in props_of[tname]:
                    props_of[tname].append(k)

        schema: dict = {}
        subject_nodes = effective_nodes(self.subject)
        for n in subject_nodes:
            schema[n] = {
                "represented_as": "node",
                "properties": sorted(props_of.get(n, [])),
            }
        for t in self.transformers:
            targets = effective_nodes(t)
            for n in targets:
                schema.setdefault(n, {
                    "represented_as": "node",
                    "properties": sorted(props_of.get(n, [])),
                })
            sources = [t.from_subject] if t.from_subject else subject_nodes
            reverse_names = {t.reverse_edge, *[c.reverse_edge for c in t.match]}
            for e in t.possible_edge_types():
                if e in reverse_names:
                    continue
                entry = schema.setdefault(e, {
                    "represented_as": "edge",
                    "source": [], "target": [],
                    "properties": sorted(props_of.get(e, [])),
                })
                for s in sources:
                    if s not in entry["source"]:
                        entry["source"].append(s)
                for n in targets:
                    if n not in entry["target"]:
                        entry["target"].append(n)
            if t.reverse_edge or any(c.reverse_edge for c in t.match):
                for rev in {t.reverse_edge, *[c.reverse_edge for c in t.match]}:
                    if not rev:
                        continue
                    entry = schema.setdefault(rev, {
                        "represented_as": "edge",
                        "source": [], "target": [],
                        "properties": sorted(props_of.get(rev, [])),
                    })
                    for n in targets:
                        if n not in entry["source"]:
                            entry["source"].append(n)
                    for s in sources:
                        if s not in entry["target"]:
                            entry["target"].append(s)
        return schema

    def spec_hash(self) -> str:
        """Deterministic hash of the mapping (for lineage manifests)."""
        def enc(o):
            if isinstance(o, (MappingSpec, TransformerSpec, MatchCase)):
                return {k: enc(v) for k, v in vars(o).items()}
            if isinstance(o, list):
                return [enc(x) for x in o]
            if isinstance(o, dict):
                return {k: enc(v) for k, v in sorted(o.items())}
            return o
        blob = json.dumps(enc(self), sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _parse_match(match_list: Any, role: str) -> list[MatchCase]:
    if not match_list:
        return []
    if not isinstance(match_list, list):
        raise MappingError(f"`match` must be an ordered list, got {type(match_list)}")
    cases = []
    for item in match_list:
        if not isinstance(item, dict) or len(item) != 1:
            raise MappingError(f"each `match` entry must be a single `regex: {{...}}` pair, got {item!r}")
        (pattern, body), = item.items()
        body = body or {}
        if role == "subject":
            node_type = _get(body, K_SUBJECT_TYPE)
        else:
            node_type = _get(body, K_TARGET)
        cases.append(MatchCase(
            pattern=str(pattern),
            node_type=str(node_type) if node_type is not None else None,
            edge_type=_opt_str(_get(body, K_EDGE)),
            final_type=_opt_str(_get(body, K_FINAL_TYPE)),
            reverse_edge=_opt_str(_get(body, K_REVERSE_EDGE)),
        ))
    return cases


def _opt_str(v) -> Optional[str]:
    return None if v is None else str(v)


def _parse_transformer(op: str, body: dict, role: str) -> TransformerSpec:
    body = body or {}
    columns = _as_list(_get(body, K_COLUMNS))
    prop_names = _as_list(_get(body, K_PROPERTIES))
    prop_for = _as_list(_get(body, K_PROP_FOR))
    match_cases = _parse_match(body.get("match"), role)

    if role == "subject":
        node_type = _opt_str(_get(body, K_SUBJECT_TYPE))
    else:
        node_type = _opt_str(_get(body, K_TARGET))
    # `id_from_column` doubles as a column synonym, never a type name
    if node_type is not None and node_type in columns and _get(body, ["to_subject"] if role == "subject" else K_TARGET) is None:
        node_type = None

    params = {k: v for k, v in body.items() if k not in _ALL_KEYWORDS}

    spec = TransformerSpec(
        op=op,
        columns=columns,
        params=params,
        node_type=node_type,
        edge_type=_opt_str(_get(body, K_EDGE)),
        final_type=_opt_str(_get(body, K_FINAL_TYPE)),
        reverse_edge=_opt_str(_get(body, K_REVERSE_EDGE)),
        from_subject=_opt_str(_get(body, K_FROM_SUBJECT)),
        match=match_cases,
        match_column=_opt_str(_get(body, K_MATCH_FROM)),
        prop_names=prop_names,
        prop_for=prop_for,
    )
    is_user = op in _user_registry()
    if op not in KNOWN_OPS and not is_user:
        raise MappingError(f"unknown transformer operator {op!r}")
    if op not in ("rowIndex", "string") and not is_user and not spec.columns and not spec.is_property:
        raise MappingError(f"transformer {op!r} needs at least one column")
    if not spec.is_property and role == "object" and not is_user:
        if not spec.node_type and not any(c.node_type for c in spec.match):
            raise MappingError(f"object transformer {op!r} declares no target type")
    return spec


def _user_registry() -> dict:
    from . import registry
    return registry.USER_TRANSFORMERS


def parse_mapping(config: dict) -> MappingSpec:
    """Parse a mapping dict (already YAML-loaded) into a MappingSpec."""
    if not isinstance(config, dict):
        raise MappingError("mapping must be a dict")

    row = _get(config, K_ROW)
    if not row or not isinstance(row, dict) or len(row) != 1:
        raise MappingError("mapping needs exactly one subject declaration under `row:`")
    (sub_op, sub_body), = row.items()
    subject = _parse_transformer(sub_op, sub_body, role="subject")
    if not subject.node_type and not any(c.node_type for c in subject.match):
        raise MappingError("subject transformer declares no subject type")

    transformers: list[TransformerSpec] = []
    properties: list[TransformerSpec] = []
    for entry in config.get("transformers", []) or []:
        if isinstance(entry, str):
            # bare user-transformer name (reference allows `- OmniPath`,
            # tests/custom_transformer/mapping.yaml)
            entry = {entry: {}}
        if not isinstance(entry, dict) or len(entry) != 1:
            raise MappingError(f"each transformer entry must be a single `op: {{...}}` pair, got {entry!r}")
        (op, body), = entry.items()
        t = _parse_transformer(op, body, role="object")
        (properties if t.is_property else transformers).append(t)

    # metadata: list of single-pair dicts; `add_source_column_names_as` is special
    metadata: dict = {}
    source_columns_key = None
    for item in config.get("metadata", []) or []:
        if not isinstance(item, dict):
            raise MappingError(f"metadata entries must be dicts, got {item!r}")
        for k, v in item.items():
            if k in K_METADATA_COLUMN:
                source_columns_key = str(v)
            else:
                metadata[str(k)] = str(v)

    from .validate import check_rules

    input_rules = config.get("validate") or {}
    try:
        check_rules(input_rules)  # a typo or a bad value shape fails at parse time
    except ValueError as e:
        raise MappingError(str(e)) from None

    spec = MappingSpec(
        subject=subject,
        transformers=transformers,
        properties=properties,
        metadata=metadata,
        source_columns_key=source_columns_key,
        input_rules=dict(input_rules),
    )

    # Resolve property targets: `for_objects` omitted -> attach to the row
    # subject type(s) (/root/reference/src/ontoweaver/mapping.py:437-443).
    subject_types = spec.subject_types()
    for p in properties:
        if not p.prop_for:
            p.prop_for = list(subject_types)
    return spec


def load_mapping(path_or_dict) -> MappingSpec:
    """Load a mapping from a YAML file path, YAML string, or dict."""
    if isinstance(path_or_dict, dict):
        return parse_mapping(path_or_dict)
    import yaml
    text = path_or_dict
    if "\n" not in str(path_or_dict):
        with open(path_or_dict) as f:
            text = f.read()
    return parse_mapping(yaml.safe_load(text))
