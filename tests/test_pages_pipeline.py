"""North-star pipeline tests: synthetic pages -> web KG, the byte-identical
text invariant, and checkpoint/resume with lineage metrics."""

import json
import os
import shutil

from pyspark.sql import functions as F

from ontoweaver_spark.pages import WEB_KG_MAPPING, generate_pages, web_kg
from ontoweaver_spark.pipeline import run_pipeline


def test_pages_deterministic(spark):
    a = generate_pages(spark, 300, seed=42).orderBy("url").collect()
    b = generate_pages(spark, 300, seed=42).orderBy("url").collect()
    assert a == b
    c = generate_pages(spark, 300, seed=7).orderBy("url").collect()
    assert a != c
    # schema matches the input_hint contract
    assert [f.name for f in generate_pages(spark, 1).schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    types = {f.name: f.dataType.simpleString() for f in generate_pages(spark, 1).schema.fields}
    assert types == {
        "url": "string", "warc_ts": "timestamp", "html": "binary",
        "text": "string", "lang": "string",
    }


def test_web_kg_and_text_invariant(spark):
    pages = generate_pages(spark, 500, seed=42)
    fnodes, fedges = web_kg(pages)

    labels = {r["label"] for r in fnodes.select("label").distinct().collect()}
    assert labels == {"page", "site", "language", "keyword"}
    elabels = {r["label"] for r in fedges.select("label").distinct().collect()}
    assert elabels == {"hosted_on", "in_language", "has_keyword", "links_to"}

    # per-row invariant: byte-identical extracted text per url
    page_text = fnodes.where(F.col("label") == "page").select(
        F.col("id").alias("url"),
        F.element_at(F.col("properties")["text"], 1).alias("out_text"),
    )
    j = pages.select("url", "text").join(page_text, "url", "left")
    assert j.where(F.col("out_text").isNull()).count() == 0
    assert j.where(F.col("text") != F.col("out_text")).count() == 0


def test_pipeline_checkpoint_resume(spark, tmp_path):
    out = str(tmp_path / "kg_out")
    pages = generate_pages(spark, 400, seed=42)

    rep1 = run_pipeline(spark, pages, WEB_KG_MAPPING, out, n_chunks=3, chunk_key="url")
    assert rep1.chunks_extracted == 3 and rep1.chunks_resumed == 0
    assert rep1.fused_nodes > 0 and rep1.fused_edges > 0
    assert rep1.rows_in == 400

    # resume: nothing re-extracted
    rep2 = run_pipeline(spark, pages, WEB_KG_MAPPING, out, n_chunks=3, chunk_key="url")
    assert rep2.chunks_extracted == 0 and rep2.chunks_resumed == 3
    assert rep2.fused_nodes == rep1.fused_nodes
    assert rep2.fused_edges == rep1.fused_edges

    # changed fusion params invalidate the fused-snapshot skip and re-fuse
    rep2b = run_pipeline(spark, pages, WEB_KG_MAPPING, out, n_chunks=3,
                         chunk_key="url", salt=2)
    assert rep2b.chunks_resumed == 3
    assert rep2b.fused_nodes == rep1.fused_nodes  # salt-invariant result
    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f)["final"]["fusion_conf"]["salt"] == 2

    # manifest carries lineage + per-partition metrics
    with open(os.path.join(out, "_manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["mapping_hash"] == rep1.mapping_hash
    assert set(manifest["chunks"]) == {"0", "1", "2"}
    for c in manifest["chunks"].values():
        assert c["done"] and "partitions" in c and c["lineage"]["mapping_hash"]
    assert manifest["final"]["nodes"] == rep1.fused_nodes

    # final tables are label-partitioned (partition pruning for consumers)
    assert any(d.startswith("label=") for d in os.listdir(os.path.join(out, "nodes")))

    # chunked extraction == unchunked extraction (partition-invariance)
    out2 = str(tmp_path / "kg_out_onechunk")
    rep3 = run_pipeline(spark, pages, WEB_KG_MAPPING, out2, n_chunks=1)
    assert rep3.fused_nodes == rep1.fused_nodes
    assert rep3.fused_edges == rep1.fused_edges

    # multi-chunk staging writes the input ONCE, partitioned by chunk id
    # (one scan total, not one scan per chunk)
    stage_in = os.path.join(out, "staging_input")
    assert any(d.startswith("_ow_chunk=") for d in os.listdir(stage_in))

    # an extraction-affecting parameter change (affix) must invalidate the
    # chunk resume AND the fused snapshot — stale reuse returned old ids
    rep4 = run_pipeline(spark, pages, WEB_KG_MAPPING, out, n_chunks=3,
                        chunk_key="url", affix="suffix")
    assert rep4.chunks_extracted == 3 and rep4.chunks_resumed == 0
    suffixed = spark.read.parquet(os.path.join(out, "nodes"))
    assert suffixed.where(F.col("id").contains(":page")).count() > 0


def test_pipeline_property_conflict_metrics(spark, tmp_path):
    """EnsureIdentical conflicts must surface as counts in the manifest,
    not merge silently (the reference raises per element, merge.py:254-265)."""
    from ontoweaver_spark.mergers import EnsureIdentical

    out = str(tmp_path / "conf_out")
    df = spark.createDataFrame(
        [("a", "v1"), ("a", "v2"), ("b", "same"), ("b", "same")],
        "k string, val string",
    )
    mapping = {
        "row": {"map": {"id_from_column": "k", "to_subject": "thing"}},
        "transformers": [{"map": {"column": "val", "to_properties": ["val"]}}],
    }
    rep = run_pipeline(
        spark, df, mapping, out,
        property_mergers={"val": EnsureIdentical()},
    )
    assert rep.fused_nodes == 2
    assert rep.node_property_conflicts == 1  # node 'a': v1 vs v2
    assert rep.edge_property_conflicts == 0
    with open(os.path.join(out, "_manifest.json")) as f:
        m = json.load(f)
    assert m["final"]["property_conflicts"] == {"nodes": 1, "edges": 0}


def test_pipeline_chunked_post_fusion_flags(spark, tmp_path):
    """--chunks used to silently drop --prop-sep/--sort/--validate-output/
    --bucketed-out; run_pipeline now applies them (ADVICE r2 #1)."""
    from ontoweaver_spark.pages import WEB_KG_MAPPING, generate_pages

    pages = generate_pages(spark, 300, seed=5, partitions=4)
    out = str(tmp_path / "flags_out")
    rep = run_pipeline(
        spark, pages, WEB_KG_MAPPING, out, n_chunks=2, chunk_key="url",
        prop_sep=";", sort="ascend", validate_output=True,
    )
    assert rep.integrity is not None and rep.integrity["ok"]
    nodes = spark.read.parquet(out + "/nodes")
    # prop_sep rendered: properties are map<string,string>, not arrays
    assert nodes.schema["properties"].dataType.valueType.simpleString() == "string"
    # resume with identical flags reuses the snapshot, including integrity
    rep2 = run_pipeline(
        spark, pages, WEB_KG_MAPPING, out, n_chunks=2, chunk_key="url",
        prop_sep=";", sort="ascend", validate_output=True,
    )
    assert rep2.chunks_resumed == 2 and rep2.integrity == rep.integrity
    # changing a post-fusion flag invalidates the fused snapshot (re-fuses)
    rep3 = run_pipeline(
        spark, pages, WEB_KG_MAPPING, out, n_chunks=2, chunk_key="url",
        prop_sep=None, sort=None, validate_output=False,
    )
    assert rep3.integrity is None
    nodes3 = spark.read.parquet(out + "/nodes")
    assert nodes3.schema["properties"].dataType.valueType.simpleString().startswith("array")


def test_rewritten_input_reextracts(spark, tmp_path):
    """Resume is keyed on the input files too: an input rewritten in place
    re-extracts (it used to resume every chunk and fuse the old rows), while
    an unchanged rerun still resumes."""
    mapping = {
        "row": {"map": {"id_from_column": "k", "to_subject": "thing"}},
        "transformers": [{"map": {"column": "v", "to_object": "value",
                                  "via_relation": "has_value"}}],
    }
    inp, out = str(tmp_path / "in.parquet"), str(tmp_path / "kg")
    spark.createDataFrame([("a", "1")], "k string, v string").write.parquet(inp)
    rep = run_pipeline(spark, spark.read.parquet(inp), mapping, out, n_chunks=2)
    assert (rep.chunks_extracted, rep.fused_nodes) == (2, 2)

    rows = [("a", "1"), ("b", "2"), ("c", "3")]
    spark.createDataFrame(rows, "k string, v string").write.mode("overwrite").parquet(inp)
    rep = run_pipeline(spark, spark.read.parquet(inp), mapping, out, n_chunks=2)
    assert (rep.chunks_extracted, rep.chunks_resumed) == (2, 0)
    assert (rep.rows_in, rep.fused_nodes, rep.fused_edges) == (3, 6, 3)

    rep = run_pipeline(spark, spark.read.parquet(inp), mapping, out, n_chunks=2)
    assert (rep.chunks_extracted, rep.chunks_resumed) == (0, 2)
    assert (rep.rows_in, rep.fused_nodes, rep.fused_edges) == (3, 6, 3)


def test_derived_input_reextracts(spark, tmp_path):
    """Resume is keyed on how the frame was built from its files, not on
    the files alone: another sample fraction or CSV separator over the same
    file re-extracts, and the same frame again resumes."""
    from ontoweaver_spark.loaders import read_table, sub_sample

    mapping = {"row": {"map": {"id_from_column": "k", "to_subject": "thing"}}}
    inp, out = str(tmp_path / "in.parquet"), str(tmp_path / "kg")
    spark.createDataFrame([(f"k{i}",) for i in range(200)], "k string").write.parquet(inp)
    rep = run_pipeline(spark, sub_sample(spark.read.parquet(inp), 10), mapping, out)
    assert rep.rows_in < 100
    rep = run_pipeline(spark, sub_sample(spark.read.parquet(inp), 100), mapping, out)
    assert (rep.chunks_extracted, rep.rows_in, rep.fused_nodes) == (1, 200, 200)

    # one header column, so both separators give the same schema
    csv = tmp_path / "in.csv"
    csv.write_text("k\n1,2\n4;5\n")

    def ids(sep):
        rep = run_pipeline(spark, read_table(spark, str(csv), sep=sep), mapping, out)
        got = {r.id for r in spark.read.parquet(out + "/nodes").collect()}
        return rep.chunks_resumed, got

    assert ids(",") == (0, {"1", "4;5"})
    assert ids(";") == (0, {"1,2", "4"})
    assert ids(";") == (1, {"1,2", "4"})
