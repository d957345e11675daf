"""The compiler emits its projection as SQL text over engine-named columns:
every mapping literal must reach Spark verbatim, the SQL and Column
renderings of the null-skip contract must agree, and a compile must stay a
handful of JVM calls."""

import gc

import pytest
from py4j import protocol
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from ontoweaver_spark.compiler import compile_mapping
from ontoweaver_spark.ids import affix_id, affix_sql
from ontoweaver_spark.nulls import is_not_null, is_not_null_sql
from ontoweaver_spark.pages import WEB_KG_MAPPING, generate_pages

# every hostile literal at once: quote, backslash, a regex escape, double
# quote, backtick, a ${...} variable, non-ASCII and a newline
H = "'" + "\\" + r"\d+" + '"' + "`" + "${spark.app.name}" + "é☃" + "\n"

HOSTILE_MAPPING = {
    "row": {"map": {"column": "id", "to_subject": "S" + H, "final_type": "F" + H}},
    "transformers": [
        {"map": {"column": "tgt", "match": [
            {r"^\d+$": {"to_object": "D" + H, "via_relation": "E" + H,
                        "reverse_relation": "R" + H}},
            {r"'|\\": {"to_object": "Q" + H, "via_relation": "QE" + H}},
        ]}},
        {"map": {"column": "lst", "match_type_from_column": "kind", "from_subject": "D" + H,
                 "match": [
                     {r"^\Q${spark.app.name}\E$": {"to_object": "K" + H, "via_relation": "KE" + H}},
                     {"^é\n$": {"to_object": "U" + H, "via_relation": "UE" + H}},
                 ]}},
        {"map": {"column": "prop", "to_properties": ["P" + H]}},
    ],
    "metadata": [{"M" + H: "V" + H}, {"add_source_column_names_as": "C" + H}],
}


def test_hostile_literals_reach_spark_verbatim(spark):
    df = spark.createDataFrame(
        [("r1", "12", "${spark.app.name}", "x", "p1"), ("r2", "a'b", "é\n", "y", None)],
        "id string, tgt string, kind string, lst string, prop string",
    )
    res = compile_mapping(df, HOSTILE_MAPPING, affix="prefix", type_affix_sep=H)

    def ident(type_, value):
        return type_ + H + value

    meta = {"M" + H: ["V" + H]}
    subj1, subj2 = ident("F" + H, "r1"), ident("F" + H, "r2")
    d1, k1 = ident("D" + H, "12"), ident("K" + H, "x")
    q2, u2 = ident("Q" + H, "a'b"), ident("U" + H, "y")
    assert sorted(tuple(r) for r in res.nodes.collect()) == sorted([
        (subj1, "F" + H, {"P" + H: ["p1"], **meta, "C" + H: ["id"]}),
        (subj2, "F" + H, {"P" + H: [], **meta, "C" + H: ["id"]}),
        (d1, "D" + H, {**meta, "C" + H: ["tgt"]}),
        (k1, "K" + H, {**meta, "C" + H: ["lst"]}),
        (q2, "Q" + H, {**meta, "C" + H: ["tgt"]}),
        (u2, "U" + H, {**meta, "C" + H: ["lst"]}),
    ])

    def edge(src, label, dst):
        return (f"({src})--[{label}]->({dst})", src, dst, label, meta)

    # r2's U candidate wants a D source: none on its row, and the subject is
    # not D either, so it gets no edge
    assert sorted(tuple(r) for r in res.edges.collect()) == sorted([
        edge(subj1, "E" + H, d1),
        edge(d1, "R" + H, subj1),
        edge(d1, "KE" + H, k1),
        edge(subj2, "QE" + H, q2),
    ])


@pytest.mark.parametrize("cell", [None, "", "nan", "NaN", "None", "none", " ", "x"])
def test_null_skip_sql_matches_column(spark, cell):
    df = spark.createDataFrame([(cell,)], "c string")
    row = df.select(
        is_not_null(F.col("c")).alias("col"), F.expr(is_not_null_sql("c")).alias("sql")
    ).first()
    assert row["col"] is row["sql"] is (cell not in (None, "", "nan", "NaN", "None"))


@pytest.mark.parametrize("affix", ["none", "prefix", "suffix"])
def test_affix_sql_matches_column(spark, affix):
    df = spark.createDataFrame([("v" + H, "T" + H)], "n string, t string")
    row = df.select(
        affix_id(F.col("n"), F.col("t"), affix=affix, sep=H).alias("col"),
        F.expr(affix_sql("n", "t", affix=affix, sep=H)).alias("sql"),
    ).first()
    assert row["col"] == row["sql"] == {
        "none": "v" + H, "prefix": "T" + H + H + "v" + H, "suffix": "v" + H + H + "T" + H,
    }[affix]


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages")
    generate_pages(spark, 300, seed=42, partitions=4).write.parquet(path)
    return path


def test_compile_py4j_budget(spark, pages_path):
    """Compiling the validated web mapping and planning ``elements`` takes
    at most 1 000 py4j commands: about 700, against about 4 500 when the
    projection was built one Column call at a time. py4j's finalizers send
    deferred delete commands for earlier garbage at any time; those are not
    counted."""
    pages = spark.read.parquet(pages_path)
    mapping = {**WEB_KG_MAPPING, "validate": {"lang": {"isin": ["en", "es", "fr", "de"]}}}
    delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    send = ClientServerConnection.send_command
    sent = []

    def counting(self, command):
        if not command.startswith(delete):
            sent.append(command)
        return send(self, command)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        compile_mapping(pages, mapping).elements
    finally:
        ClientServerConnection.send_command = send
        gc.enable()
    assert len(sent) <= 1000, f"{len(sent)} py4j commands to compile WEB_KG_MAPPING"
