"""run_pipeline as one pass: each chunk is extracted by a single write,
every manifest count is observed on an action that runs anyway (and equals a
re-scan of what was written), and the staging layout is part of the resume
key."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ontoweaver_spark.compiler import EDGE_SCHEMA, NODE_SCHEMA, compile_mapping
from ontoweaver_spark.fusion import has_property_conflict
from ontoweaver_spark.mergers import EnsureIdentical
from ontoweaver_spark.pages import WEB_KG_MAPPING, generate_pages
from ontoweaver_spark.pipeline import run_pipeline
from ontoweaver_spark.validate import validate_input, validity

RULES = {"lang": {"isin": ["en", "es", "fr", "de"]}}
MAPPING = {**WEB_KG_MAPPING, "validate": RULES}


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages")
    generate_pages(spark, 300, seed=42, partitions=4).write.parquet(path)
    return path


def _manifest(out):
    with open(os.path.join(out, "_manifest.json")) as f:
        return json.load(f)


def _by_partition(df):
    rows = df.groupBy(F.spark_partition_id().alias("partition")).count().collect()
    return sorted(({"partition": r["partition"], "rows": r["count"]} for r in rows),
                  key=lambda m: m["partition"])


def test_one_chunk_run_submits_few_jobs(spark, pages_path, tmp_path):
    """A validated one-chunk run used to submit 20 jobs one after another
    (eager validation, two extraction writes, a partition-metrics scan and
    four count re-scans); now extraction is one write and every count rides
    on it or on the two fused writes."""
    sc = spark.sparkContext
    group = "one-pass-job-count"
    sc.setJobGroup(group, "run_pipeline job count")
    try:
        rep = run_pipeline(spark, spark.read.parquet(pages_path), MAPPING,
                           str(tmp_path / "kg"), n_chunks=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep.fused_nodes > 0 and rep.fused_edges > 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 8, f"{len(jobs)} Spark jobs for a one-chunk run"


@pytest.mark.parametrize("n_chunks", [1, 3])
def test_observed_counts_equal_rescan(spark, pages_path, tmp_path, n_chunks):
    inp = spark.read.parquet(pages_path)
    out = str(tmp_path / "kg")
    rep = run_pipeline(spark, inp, MAPPING, out, n_chunks=n_chunks, chunk_key="url",
                       property_mergers={"text": EnsureIdentical()})
    m = _manifest(out)

    _, vrep = validate_input(inp, RULES)
    assert m["validation"] == {"total": vrep.total, "valid": vrep.valid,
                               "invalid": vrep.invalid, "per_rule": vrep.per_rule}
    assert vrep.invalid > 0

    staging = os.path.join(out, "staging")
    for c in range(n_chunks):
        if n_chunks == 1:
            part = inp.where(validity(RULES))
        else:
            part = (spark.read.parquet(os.path.join(out, "staging_input"))
                    .where(F.col("_ow_chunk") == c).drop("_ow_chunk"))
        chunk = m["chunks"][str(c)]
        assert chunk["partitions"] == _by_partition(part)
        assert chunk["rows_in"] == part.count()
        chunk_dir = os.path.join(staging, f"chunk-{c}")
        assert chunk["nodes"] == spark.read.schema(NODE_SCHEMA).parquet(
            os.path.join(chunk_dir, "kind=node")).count()
        assert chunk["edges"] == spark.read.schema(EDGE_SCHEMA).parquet(
            os.path.join(chunk_dir, "kind=edge")).count()
    assert rep.rows_in == vrep.valid

    for table, key in (("nodes", "nodes"), ("edges", "edges")):
        t = spark.read.parquet(os.path.join(out, table))
        row = t.agg(F.count("*").alias("n"),
                    F.sum(has_property_conflict(t).cast("long")).alias("c")).collect()[0]
        assert m["final"][key] == row["n"]
        assert m["final"]["property_conflicts"][key] == (row["c"] or 0)
    # linked-to pages carry the text of every page linking to them
    assert rep.node_property_conflicts > 0


def test_edgeless_mapping_fuses_empty_edges(spark, tmp_path):
    """No edges staged -> no kind=edge directory; fusion reads an empty frame."""
    df = spark.createDataFrame([("a", "1"), ("b", "2"), ("a", "1")], "k string, v string")
    mapping = {
        "row": {"map": {"id_from_column": "k", "to_subject": "thing"}},
        "transformers": [{"map": {"column": "v", "to_properties": ["v"]}}],
    }
    out = str(tmp_path / "kg")
    rep = run_pipeline(spark, df, mapping, out, n_chunks=1)
    assert not os.path.exists(os.path.join(out, "staging", "chunk-0", "kind=edge"))
    assert (rep.raw_nodes, rep.raw_edges) == (3, 0)
    assert (rep.fused_nodes, rep.fused_edges) == (2, 0)


def test_old_staging_layout_reextracts(spark, tmp_path):
    """An out_dir staged under the former chunk-<c>/{nodes,edges} layout
    carries no staging tag: it must re-extract, not fuse from the kind=...
    directories it does not have (which would silently yield empty tables)."""
    pages = generate_pages(spark, 120, seed=3, partitions=2)
    fresh = run_pipeline(spark, pages, WEB_KG_MAPPING, str(tmp_path / "fresh"), n_chunks=1)

    out = str(tmp_path / "old")
    res = compile_mapping(pages, WEB_KG_MAPPING)
    res.nodes.write.parquet(os.path.join(out, "staging", "chunk-0", "nodes"))
    res.edges.write.parquet(os.path.join(out, "staging", "chunk-0", "edges"))
    conf = {"mapping_hash": fresh.mapping_hash, "affix": "none", "type_affix_sep": ":",
            "n_chunks": 1, "chunk_key": None, "validate_mode": "report"}
    with open(os.path.join(out, "_manifest.json"), "w") as f:
        json.dump({
            "extract_conf": conf, "mapping_hash": fresh.mapping_hash, "final": None,
            "chunks": {"0": {"done": True, "rows_in": 120, "nodes": fresh.raw_nodes,
                             "edges": fresh.raw_edges, "partitions": [],
                             "lineage": {**conf, "chunk": 0}, "ts": 0.0}},
        }, f)

    rep = run_pipeline(spark, pages, WEB_KG_MAPPING, out, n_chunks=1)
    assert rep.chunks_extracted == 1 and rep.chunks_resumed == 0
    assert (rep.fused_nodes, rep.fused_edges) == (fresh.fused_nodes, fresh.fused_edges)
    assert _manifest(out)["extract_conf"]["staging"] == "elements"
    staged = os.listdir(os.path.join(out, "staging", "chunk-0"))
    assert sorted(d for d in staged if d.startswith("kind=")) == ["kind=edge", "kind=node"]
    assert "nodes" not in staged and "edges" not in staged
