"""F12 — the user-transformer (UDF/UDTF) surface.

The reference lets users subclass base.Transformer with arbitrary per-row
branching (tests/custom_transformer/custom.py). Here the equivalent hook
returns fully-typed candidate structs, either as pure Column expressions
(preferred — stays in codegen) or as a vectorized pandas UDF (the
Arrow-batched escape hatch). Golden values from
/root/reference/tests/test_custom_transformer.py:12-24.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ontoweaver_spark import register, weave
from ontoweaver_spark.fusion import format_for_export
from ontoweaver_spark.registry import unregister
from ontoweaver_spark.transformers import CompiledCandidates

CAND_TYPE = "array<struct<value:string,label:string,edge:string,final:string,rev:string>>"

ROWS = [
    # source, target, type, entity_type_source, entity_type_target,
    # source_genesymbol, target_genesymbol, ncbi_tax_id_source, ncbi_tax_id_target, is_directed
    ("P48281", "Q9JMA7", "transcriptional", "protein", "protein",
     "Vdr", "Cyp3a41a; Cyp3a41b", "10090", "10090", "True"),
]
SCHEMA = ("source string, target string, type string, entity_type_source string, "
          "entity_type_target string, source_genesymbol string, target_genesymbol string, "
          "ncbi_tax_id_source string, ncbi_tax_id_target string, is_directed string")

MAPPING = {
    "row": {"map": {
        "id_from_column": "source",
        "match_type_from_column": "entity_type_source",
        "match": [
            {"protein": {"to_subject": "source_protein", "final_type": "protein"}},
            {"complex": {"to_subject": "source_complex", "final_type": "macromolecular_complex"}},
        ],
    }},
    "transformers": [
        "OmniPath",
        {"map": {"column": "source_genesymbol", "to_property": "genesymbol",
                 "for_objects": ["source_protein", "source_complex"]}},
        {"map": {"column": "ncbi_tax_id_source", "to_property": "ncbi_tax_id",
                 "for_objects": ["source_protein", "source_complex"]}},
        {"map": {"column": "target_genesymbol", "to_property": "genesymbol",
                 "for_objects": ["target_protein", "target_complex"]}},
        {"map": {"column": "ncbi_tax_id_target", "to_property": "ncbi_tax_id",
                 "for_objects": ["target_protein", "target_complex"]}},
        {"map": {"column": "is_directed", "to_property": "is_directed",
                 "for_objects": ["transcriptional"]}},
    ],
}

EXPECTED_NODES = {
    ("Q9JMA7:protein", "protein",
     (("genesymbol", "Cyp3a41a; Cyp3a41b"), ("ncbi_tax_id", "10090"))),
    ("P48281:protein", "protein",
     (("genesymbol", "Vdr"), ("ncbi_tax_id", "10090"))),
}
EXPECTED_EDGES = {
    ("P48281:protein", "Q9JMA7:protein", "transcriptional", (("is_directed", "True"),)),
}


def _check(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    fnodes, fedges = weave(df, MAPPING, affix="suffix")
    nodes = {
        (r["id"], r["label"], tuple(sorted(r["properties"].items())))
        for r in format_for_export(fnodes).collect()
    }
    edges = {
        (r["src"], r["dst"], r["label"], tuple(sorted(r["properties"].items())))
        for r in format_for_export(fedges).collect()
    }
    assert nodes == EXPECTED_NODES
    assert edges == EXPECTED_EDGES


def test_custom_transformer_column_exprs(spark):
    def omnipath(spec):
        typ, ent, tid = F.col("type"), F.col("entity_type_target"), F.col("target")

        def cand(label, edge, final):
            return F.array(F.struct(
                tid.alias("value"), F.lit(label).alias("label"),
                F.lit(edge).alias("edge"), F.lit(final).alias("final"),
                F.lit(None).cast("string").alias("rev"),
            ))

        out = (
            F.when((typ == "transcriptional") & (ent == "protein"),
                   cand("target_protein", "transcriptional", "protein"))
            .when((typ == "transcriptional") & (ent == "complex"),
                  cand("target_complex", "transcriptional", "macromolecular_complex"))
            .when((typ == "post_translational") & (ent == "protein"),
                  cand("target_protein", "post_translational", "protein"))
            .otherwise(F.array().cast(CAND_TYPE))
        )
        return CompiledCandidates(out)

    register("OmniPath", omnipath)
    try:
        _check(spark)
    finally:
        unregister("OmniPath")


def test_custom_transformer_pandas_udf(spark):
    # the Arrow-batched variant: same branching in vectorized Python
    @F.pandas_udf(CAND_TYPE)
    def omnipath_udf(typ: pd.Series, ent: pd.Series, tid: pd.Series) -> pd.Series:
        out = []
        for t, e, v in zip(typ, ent, tid):
            if t == "transcriptional" and e == "protein":
                out.append([{"value": v, "label": "target_protein",
                             "edge": "transcriptional", "final": "protein", "rev": None}])
            elif t == "transcriptional" and e == "complex":
                out.append([{"value": v, "label": "target_complex",
                             "edge": "transcriptional",
                             "final": "macromolecular_complex", "rev": None}])
            else:
                out.append([])
        return pd.Series(out)

    def omnipath(spec):
        return CompiledCandidates(
            omnipath_udf(F.col("type"), F.col("entity_type_target"), F.col("target"))
        )

    register("OmniPath", omnipath)
    try:
        _check(spark)
    finally:
        unregister("OmniPath")


def test_registry_fingerprint_follows_module_source(tmp_path):
    """Pipeline resume keys on ``registry.fingerprint()``: editing a
    ``--register`` module changes it, re-importing the same file does not."""
    from ontoweaver_spark import registry

    mod = tmp_path / "user_tf.py"
    src = ("from ontoweaver_spark.registry import register\n"
           "from pyspark.sql import functions as F\n"
           "register('FpProbe', lambda spec: F.array(F.lit({v!r})))\n")
    try:
        mod.write_text(src.format(v="a"))
        registry.import_from_path(str(mod))
        first = registry.fingerprint()
        registry.import_from_path(str(mod))
        assert registry.fingerprint() == first
        mod.write_text(src.format(v="b"))
        registry.import_from_path(str(mod))
        assert registry.fingerprint() != first
    finally:
        unregister("FpProbe")
