"""Input / output validation (reference validate.py analog).

The reference validates the input table with user-declared pandera schemas
(/root/reference/src/ontoweaver/validate.py:17-126, parsed at
mapping.py:128-143) and each transformer's output values either with pandera
or with the fast-path ``SimpleOutputValidator`` — the `is_not_null` rule
(/root/reference/src/ontoweaver/validate.py:207-228, chosen at
base.py:824-831). pandera is row-at-a-time pandas; here a rule compiles to
ONE Column predicate so validation is a codegen-friendly scan with no
Python in the loop, and "errors" are counted, quarantined, or fatal.

Rule vocabulary (subset of the pandera checks the reference docs show:
str_matches, isin, in_range, not_nullable — docs/sections/validation):

    rules = {
        "lang": {"isin": ["en", "es"], "required": True},
        "n_chars": {"in_range": [1, 10000]},
        "text": {"str_matches": r"\\S"},
    }

:func:`check_rules` rejects anything else when the mapping is parsed.
:func:`apply_rules` is the one place a ``validate_mode`` takes effect
(``compile_mapping`` and ``run_pipeline`` call it); it compiles each rule once.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .nulls import is_not_null

#: what a mapping-level ``validate:`` section does with invalid rows
VALIDATE_MODES = ("raise", "filter", "report")

#: rule key -> (value check, expected shape); any other key is a typo or an
#: untranslated pandera schema and must fail loudly, not compile to lit(True)
_RULE_SHAPES = {
    "required": (lambda v: isinstance(v, bool), "a bool"),
    "isin": (lambda v: isinstance(v, (list, tuple)), "a list"),
    "str_matches": (lambda v: isinstance(v, str), "a string"),
    "in_range": (lambda v: isinstance(v, (list, tuple)) and len(v) == 2 and all(
        isinstance(x, (int, float)) and not isinstance(x, bool) for x in v),
        "two numbers [lo, hi]"),
}
KNOWN_RULE_KEYS = frozenset(_RULE_SHAPES)


def check_rules(rules) -> None:
    """Raise ``ValueError`` unless ``rules`` maps column names to rule dicts
    whose keys are in :data:`KNOWN_RULE_KEYS` and whose values have the
    shape each key needs. A misspelled key ('is_in'), a pasted pandera
    section or a scalar ``isin: en`` (which would run ``IN ('e', 'n')``)
    would otherwise validate something other than what it claims."""
    if not isinstance(rules, dict) or not all(isinstance(r, dict) for r in rules.values()):
        raise ValueError("`validate` must map column names to rule dicts")
    for col, rule in rules.items():
        if unknown := set(rule) - KNOWN_RULE_KEYS:
            pandera = col == "columns" or {"checks", "dtype", "nullable"} & set(rule)
            raise ValueError(
                f"unknown validation rule key(s) {sorted(unknown)} for column {col!r}; "
                f"known keys: {sorted(KNOWN_RULE_KEYS)}" + (
                    " (this looks like a pandera schema section — declare rules as "
                    "{column: {required/isin/str_matches/in_range: ...}} instead)"
                    if pandera else ""))
        for key, value in rule.items():
            ok, shape = _RULE_SHAPES[key]
            if not ok(value):
                raise ValueError(f"validation rule {key!r} for column {col!r} must be "
                                 f"{shape}, got {value!r}")


def check_mode(mode: str) -> None:
    """Raise ``ValueError`` unless ``mode`` is one of :data:`VALIDATE_MODES`."""
    if mode not in VALIDATE_MODES:
        raise ValueError(f"validate_mode must be raise|filter|report, got {mode!r}")


def compile_rule(col: str, rule: dict) -> Column:
    """One column's rule dict -> boolean Column (True = valid); the rule is
    checked with :func:`check_rules` first."""
    check_rules({col: rule})
    c = F.col(col)
    pred = F.lit(True)
    if rule.get("required"):
        pred = pred & is_not_null(c)
    if "isin" in rule:
        allowed = [str(x) for x in rule["isin"]]
        pred = pred & (c.isNull() | c.cast("string").isin(allowed))
    if "str_matches" in rule:
        pred = pred & (c.isNull() | c.cast("string").rlike(rule["str_matches"]))
    if "in_range" in rule:
        lo, hi = rule["in_range"]
        if float(lo).is_integer() and float(hi).is_integer():
            # integral bounds compare against the native column type — a
            # cast-to-double here would block parquet predicate pushdown
            rng = (c >= int(lo)) & (c <= int(hi))
        else:
            d = c.cast("double")
            rng = (d >= float(lo)) & (d <= float(hi))
        pred = pred & (c.isNull() | rng)
    return pred


def _compile(rules: dict[str, dict]) -> list[tuple[str, Column]]:
    """(column, predicate) per rule, in column order: the one compile of
    each rule that a call's filter, counts and failed-rule names share."""
    return [(col, compile_rule(col, rules[col])) for col in sorted(rules)]


def _all(preds: list[tuple[str, Column]]) -> Column:
    return reduce(lambda acc, cp: acc & cp[1], preds, F.lit(True))


def _aggs(preds: list[tuple[str, Column]]) -> list[Column]:
    """Overall and per-rule violation counts as conditional sums: one
    aggregation (or observation), no extra scan per rule."""
    return [
        F.count("*").alias("_total"),
        F.sum(_all(preds).cast("long")).alias("_valid"),
        *[F.sum((~p).cast("long")).alias(f"_bad_{col}") for col, p in preds],
    ]


def _failed(preds: list[tuple[str, Column]]) -> Column:
    """The names of the rules a row violates (an array, empty when valid)."""
    return F.array_compact(F.array(*[F.when(~p, F.lit(col)) for col, p in preds]))


def validity(rules: dict[str, dict]) -> Column:
    """AND of all per-column rules (one whole-row predicate)."""
    return _all(_compile(rules))


@dataclass
class ValidationReport:
    total: int
    valid: int
    invalid: int
    per_rule: dict[str, int]  # column -> invalid count

    @classmethod
    def from_row(cls, row, rules: dict[str, dict]) -> "ValidationReport":
        """Build from the counts of :func:`validate_input` or of an
        :func:`apply_rules` ``Observation`` (a Row, or the dict it returns)."""
        total, valid = row["_total"], row["_valid"] or 0
        return cls(
            total=total, valid=valid, invalid=total - valid,
            per_rule={col: row[f"_bad_{col}"] or 0 for col in sorted(rules)},
        )


def validate_input(
    df: DataFrame, rules: dict[str, dict], raise_errors: bool = False
) -> tuple[DataFrame, ValidationReport]:
    """Split the input into (valid rows, report). One aggregation pass
    computes the overall and per-rule violation counts (conditional sums,
    no extra scans per rule); the returned DataFrame filters lazily.

    ``raise_errors=True`` mirrors the reference's hard failure on input
    schema violation (validate.py:112-126)."""
    preds = _compile(rules)
    report = ValidationReport.from_row(df.agg(*_aggs(preds)).collect()[0], rules)
    if raise_errors and report.invalid:
        raise ValueError(
            f"input validation failed: {report.invalid}/{report.total} rows invalid; "
            f"per-rule: {report.per_rule}"
        )
    return df.where(_all(preds)), report


def apply_rules(
    df: DataFrame, rules: dict[str, dict], mode: str, observe: bool = False
) -> tuple[DataFrame, ValidationReport | Observation | None]:
    """Apply a mapping's ``validate:`` rules under ``mode`` -> (rows to
    extract, counts); the mode is checked even without rules.

    - ``"raise"`` (the reference's InputValidator default): the first
      invalid row fails the job, naming the violated rule columns — a
      ``raise_error`` guard in the scan filter, no extra job or scan.
    - ``"filter"``: drop invalid rows silently (pushed down to the scan).
    - ``"report"``: drop invalid rows and count them per rule, eagerly with
      :func:`validate_input` (a :class:`ValidationReport`) or, with
      ``observe``, as an ``Observation`` on the caller's next action.

    Counts are None in the other modes and when there are no rules."""
    check_mode(mode)
    if not rules:
        return df, None
    if mode == "report" and not observe:
        return validate_input(df, rules)
    preds = _compile(rules)
    if mode == "raise":
        return df.where(F.when(_all(preds), F.lit(True)).otherwise(F.raise_error(F.concat(
            F.lit("input validation failed (violated rule column(s): "),
            F.concat_ws(",", _failed(preds)),
            F.lit("); use validate_mode='filter'/'report' to drop instead"),
        )).cast("boolean"))), None
    counts = None
    if mode == "report":
        counts = Observation()
        df = df.observe(counts, *_aggs(preds))
    return df.where(_all(preds)), counts


def quarantine(df: DataFrame, rules: dict[str, dict]) -> DataFrame:
    """Rows that violate at least one rule, tagged with the failing columns
    (the quarantine side of a split pipeline; write it next to the run
    manifest for debugging at scale)."""
    return df.withColumn("_failed_rules", _failed(_compile(rules))).where(
        F.size("_failed_rules") > 0)


def graph_integrity(nodes: DataFrame, edges: DataFrame) -> dict:
    """Post-fusion graph invariants — the ``--validate-output`` gate run
    over the FINAL graph rather than per-transformer values (which the
    compiler's null-skip already guards during extraction):

    - no null/empty node ids, no null labels, no duplicate node ids
      (fusion groups by id, so a duplicate means a broken custom merge);
    - no dangling edge endpoints (every src/dst resolves to a node id).

    Shuffle shape: one aggregation over nodes; the dangling checks are two
    left-anti joins of edges against the node-id projection — at scale both
    sides co-locate when read back from the bucketed graph tables
    (bucketBy id / src), so the big history does not re-shuffle."""
    nrow = nodes.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("id").isNull() | (F.col("id") == "") | F.col("label").isNull())
            .cast("long")
        ).alias("bad"),
        F.count_distinct(F.col("id")).alias("ids"),
    ).collect()[0]
    ids = nodes.select("id")
    dang_src = edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti").count()
    dang_dst = edges.join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti").count()
    n_edges = edges.count()
    report = {
        "nodes": nrow["n"],
        "edges": n_edges,
        "bad_node_rows": nrow["bad"] or 0,
        "duplicate_node_ids": nrow["n"] - nrow["ids"],
        "dangling_src": dang_src,
        "dangling_dst": dang_dst,
    }
    report["ok"] = (
        report["bad_node_rows"] == 0
        and report["duplicate_node_ids"] == 0
        and dang_src == 0
        and dang_dst == 0
    )
    return report


def repair_dangling_edges(
    nodes: DataFrame,
    edges: DataFrame,
    placeholder_label: str = "unresolved",
) -> tuple[DataFrame, DataFrame]:
    """Dangling-endpoint repair -> ``(repaired_nodes, placeholders)``.

    :func:`graph_integrity` *detects* dangling endpoints; this is the
    corresponding REPAIR policy: every edge endpoint (src or dst) with no
    node row becomes a placeholder node ``(id, placeholder_label, n_refs)``
    so downstream consumers (Neo4j bulk import rejects dangling edges
    outright; graph algorithms silently drop them) see a closed graph.
    ``n_refs`` — how many edge slots reference the missing id — is the
    triage signal: a placeholder with thousands of references is a broken
    extraction rule, one with a single reference is a stray value.

    The reference hits this as BioCypher import errors after the fact;
    making repair explicit keeps the 10^12-edge run from dying at the
    sink. Shape: one explode of the two endpoint columns, one hash
    aggregate, one left-anti join against the node-id projection (both
    sides co-located when read from the bucketed graph tables).
    """
    refs = (
        edges.select(F.explode(F.array(F.col("src"), F.col("dst"))).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    placeholders = refs.join(nodes.select("id"), "id", "left_anti").select(
        "id", F.lit(placeholder_label).alias("label"), "n_refs"
    )
    node_cols = nodes.columns
    pad = placeholders.select(
        *[
            F.col(c) if c in ("id", "label") else F.lit(None).cast(nodes.schema[c].dataType).alias(c)
            for c in node_cols
        ]
    )
    return nodes.unionByName(pad), placeholders


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """Training-data governance rollup -> ONE row ``(n_rows, n_groups,
    violating_groups, rows_at_risk, min_group_size, k)``: group the
    frame by its quasi-identifier columns and count equivalence classes
    smaller than ``k`` — the k-anonymity criterion (Sweeney 2002). A
    corpus whose (host, lang, date-bucket, ...) combination isolates
    individual users re-identifies them no matter how well the free
    text was PII-scrubbed; run this AFTER ``scrub_pii``, which removes
    surface strings but cannot see joinable structure.

    One groupBy over the quasi-identifier tuple + one 1-row rollup with
    map-side partials; NULL values count as a value of their own
    (groupBy semantics — NULL-keyed rows form their own class, stated
    explicitly because NULL often IS the identifying signal).
    """
    groups = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count("*").alias("_gn")
    )
    return groups.agg(
        F.sum("_gn").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum((F.col("_gn") < k).cast("long")).alias("violating_groups"),
        F.sum(F.when(F.col("_gn") < k, F.col("_gn")).otherwise(F.lit(0)))
        .cast("long").alias("rows_at_risk"),
        F.min("_gn").cast("long").alias("min_group_size"),
        F.lit(k).cast("long").alias("k"),
    )


def shacl_validate(
    nodes: DataFrame,
    edges: DataFrame,
    shapes: list[dict],
    props: DataFrame | None = None,
) -> DataFrame:
    """SHACL-lite node-shape validation of a typed property graph -> one
    row per violation ``(id, shape, path, violation, observed)``.

    The reference validates table CELLS (pandera rules,
    ``src/ontoweaver/validate.py:17-126``) and this engine's
    :func:`validate_edge_types` checks single edges against domain/range —
    but neither can say "every document node must have EXACTLY ONE
    in_language edge whose target is a language node". That per-node
    STRUCTURAL contract is what W3C SHACL node shapes express
    (sh:targetClass + sh:path + sh:minCount/sh:maxCount/sh:class/
    sh:pattern/sh:in), and it is the acceptance gate a production KG
    build runs before publishing a graph snapshot.

    ``shapes`` is config-sized (broadcast everywhere), one dict per
    constraint::

        {"shape": "DocShape", "target_class": "document",
         "path": "in_language",            # outgoing edge label
         "min_count": 1, "max_count": 1,   # cardinality (either optional)
         "object_class": "language"}       # required label of edge target
        {"shape": "DocShape", "target_class": "document",
         "key": "n_chars",                 # property row on `props`
         "pattern": "^[0-9]+$",            # RLIKE, unanchored unless ^$
         "values": ["en", "de"]}           # allowed-value set (sh:in)

    Violations emitted (``observed`` is always a string):

    - ``min_count`` / ``max_count`` — edge-count outside bounds
      (observed = the count; nodes with ZERO path edges are included,
      which a naive group-by-the-edges formulation silently misses)
    - ``object_class`` — edge target typed otherwise (observed = target
      label, or ``missing`` when the target has no node row)
    - ``pattern`` / ``values`` — property value fails the regex /
      allowed set (observed = the value; absent keys are a cardinality
      concern, not a value concern, so no row — declare min_count on an
      edge path or validate presence upstream)

    Scale shape: every join against the shape table is a broadcast; the
    big joins are keyed on node id / edge src / edge dst (the same keys
    the bucketed graph tables cluster by, so at 10^12 edges they
    co-locate with zero extra shuffle). Cardinality counting is one
    map-side-combinable groupBy over the path-filtered edges; the
    zero-count grid is targets x per-shape constraint rows (output-sized,
    never |V| x |shapes| for shapes whose class the node doesn't carry).
    """
    spark = nodes.sparkSession
    card_rows, class_rows, val_rows = [], [], []
    for s in shapes:
        name, tgt = str(s["shape"]), str(s["target_class"])
        if "path" in s:
            if "min_count" in s or "max_count" in s:
                card_rows.append(
                    (name, tgt, str(s["path"]),
                     int(s.get("min_count", 0)),
                     int(s["max_count"]) if "max_count" in s else None)
                )
            if "object_class" in s:
                class_rows.append(
                    (name, tgt, str(s["path"]), str(s["object_class"]))
                )
        if "key" in s:
            val_rows.append(
                (name, tgt, str(s["key"]),
                 str(s["pattern"]) if "pattern" in s else None,
                 [str(v) for v in s["values"]] if "values" in s else None)
            )
    if val_rows and props is None:
        raise ValueError(
            "shacl_validate: value constraints (key/pattern/values) need "
            "the props frame (id, key, value)"
        )
    out_cols = ["id", "shape", "path", "violation", "observed"]
    parts = []
    n = nodes.select(F.col("id").cast("string").alias("id"),
                     F.col("label").cast("string").alias("label"))
    e = edges.select(F.col("src").cast("string").alias("src"),
                     F.col("dst").cast("string").alias("dst"),
                     F.col("label").cast("string").alias("elabel"))
    if card_rows:
        cons = F.broadcast(spark.createDataFrame(
            card_rows, "shape string, label string, path string, "
                       "mn long, mx long"))
        grid = n.join(cons, "label").select("id", "shape", "path", "mn", "mx")
        paths = sorted({r[2] for r in card_rows})
        cnt = (
            e.where(F.col("elabel").isin(paths))
            .groupBy(F.col("src").alias("id"), F.col("elabel").alias("path"))
            .agg(F.count("*").alias("_c"))
        )
        got = grid.join(cnt, ["id", "path"], "left").select(
            "id", "shape", "path", "mn", "mx",
            F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
        )
        parts.append(got.where(F.col("_c") < F.col("mn")).select(
            "id", "shape", "path", F.lit("min_count").alias("violation"),
            F.col("_c").cast("string").alias("observed")))
        parts.append(got.where(F.col("mx").isNotNull()
                               & (F.col("_c") > F.col("mx"))).select(
            "id", "shape", "path", F.lit("max_count").alias("violation"),
            F.col("_c").cast("string").alias("observed")))
    if class_rows:
        cons = F.broadcast(spark.createDataFrame(
            class_rows, "shape string, label string, path string, "
                        "want string"))
        typed = (
            e.select(F.col("src").alias("id"), "dst",
                     F.col("elabel").alias("path"))
            .join(n, "id")                      # src type gates targeting
            .join(cons, ["label", "path"])
        )
        dst_t = n.select(F.col("id").alias("dst"),
                         F.col("label").alias("_dl"))
        parts.append(
            typed.join(dst_t, "dst", "left")
            .where(F.col("_dl").isNull() | (F.col("_dl") != F.col("want")))
            .select("id", "shape", "path",
                    F.lit("object_class").alias("violation"),
                    F.coalesce(F.col("_dl"), F.lit("missing"))
                    .alias("observed"))
        )
    if val_rows:
        cons = F.broadcast(spark.createDataFrame(
            val_rows, "shape string, label string, path string, "
                      "pat string, allowed array<string>"))
        p = props.select(F.col("id").cast("string").alias("id"),
                         F.col("key").cast("string").alias("path"),
                         F.col("value").cast("string").alias("_v"))
        typed = p.join(n, "id").join(cons, ["label", "path"])
        parts.append(typed.where(
            F.col("pat").isNotNull() & ~F.expr("_v rlike pat")
        ).select("id", "shape", "path", F.lit("pattern").alias("violation"),
                 F.col("_v").alias("observed")))
        parts.append(typed.where(
            F.col("allowed").isNotNull()
            & ~F.array_contains(F.col("allowed"), F.col("_v"))
        ).select("id", "shape", "path", F.lit("values").alias("violation"),
                 F.col("_v").alias("observed")))
    if not parts:
        return spark.createDataFrame(
            [], "id string, shape string, path string, violation string, "
                "observed string")
    out = parts[0]
    for q in parts[1:]:
        out = out.unionAll(q)
    return out.select(*out_cols)


def graph_props_frame(nodes: DataFrame) -> DataFrame:
    """Flatten the fused graph's ``properties`` map column
    (``map<string, array<string>>``, the :func:`~ontoweaver_spark.weave`
    output shape) into the ``(id, key, value)`` rows
    :func:`shacl_validate` scores — one row per multi-value entry, pure
    explode projection, no shuffle."""
    return nodes.select(
        "id", F.explode_outer("properties").alias("key", "_vs")
    ).select(
        "id", "key", F.explode_outer("_vs").alias("value")
    ).where(F.col("key").isNotNull())


def load_shapes(path: str) -> list[dict]:
    """Load a SHACL-lite shapes file (YAML or JSON: either a bare list
    of shape dicts or ``{"shapes": [...]}``) for :func:`shacl_validate`;
    unknown keys fail loudly here, at parse time, not as silent
    non-constraints at run time."""
    import json

    with open(path) as fh:
        text = fh.read()
    try:
        import yaml

        data = yaml.safe_load(text)
    except ImportError:
        data = json.loads(text)
    if isinstance(data, dict):
        data = data.get("shapes", [])
    if not isinstance(data, list) or not data:
        raise ValueError(f"shapes file {path}: expected a non-empty list "
                         "of shape dicts (or {'shapes': [...]})")
    allowed = {"shape", "target_class", "path", "min_count", "max_count",
               "object_class", "key", "pattern", "values"}
    for i, s in enumerate(data):
        if not isinstance(s, dict) or "shape" not in s or "target_class" not in s:
            raise ValueError(f"shapes[{i}]: every shape needs 'shape' and "
                             "'target_class'")
        unknown = set(s) - allowed
        if unknown:
            raise ValueError(f"shapes[{i}] ({s.get('shape')}): unknown keys "
                             f"{sorted(unknown)} — allowed: {sorted(allowed)}")
    return data
