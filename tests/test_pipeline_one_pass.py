"""run_pipeline as one pass: each chunk is extracted by a single write,
every manifest count is observed on an action that runs anyway (and equals a
re-scan of what was written), the staging layout is part of the resume key,
and a source's validation rules are applied once, before staging."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ontoweaver_spark import registry, validate
from ontoweaver_spark.compiler import EDGE_SCHEMA, NODE_SCHEMA, compile_mapping
from ontoweaver_spark.fusion import has_property_conflict, reconciliate
from ontoweaver_spark.mergers import EnsureIdentical
from ontoweaver_spark.pages import WEB_KG_MAPPING, generate_pages
from ontoweaver_spark.pipeline import _input_fingerprint, run_pipeline
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


def _canon(df):
    """Rows as sorted canonical JSON lines (property values sorted too)."""
    return sorted(json.dumps({**r.asDict(), "properties": sorted(
        (k, sorted(v)) for k, v in (r["properties"] or {}).items())}, sort_keys=True)
        for r in df.collect())


@pytest.mark.parametrize("n_chunks", [1, 3])
@pytest.mark.parametrize("mode", ["raise", "filter", "report"])
def test_each_validate_mode_matches_compile_mapping(spark, pages_path, tmp_path, mode, n_chunks):
    """run_pipeline applies the rules once per source, before staging; its
    fused tables equal compile_mapping + reconciliate in the same mode, and
    raise mode fails (a multi-chunk run on the staging write, before any
    chunk is extracted)."""
    inp = spark.read.parquet(pages_path)
    out = str(tmp_path / "kg")
    if mode == "raise":
        with pytest.raises(Exception, match="input validation failed"):
            run_pipeline(spark, inp, MAPPING, out, n_chunks=n_chunks, chunk_key="url",
                         validate_mode=mode)
        if n_chunks > 1:
            assert not os.path.exists(os.path.join(out, "staging"))
        return
    rep = run_pipeline(spark, inp, MAPPING, out, n_chunks=n_chunks, chunk_key="url",
                       validate_mode=mode)
    res = compile_mapping(inp, MAPPING, validate_mode=mode)
    fnodes, fedges = reconciliate(res.nodes, res.edges, raise_errors=False)
    assert _canon(spark.read.parquet(os.path.join(out, "nodes"))) == _canon(fnodes)
    assert _canon(spark.read.parquet(os.path.join(out, "edges"))) == _canon(fedges)
    assert rep.rows_in == inp.where(validate.validity(RULES)).count()
    assert ("validation" in _manifest(out)) == (mode == "report")
    if n_chunks > 1:
        staged = spark.read.parquet(os.path.join(out, "staging_input"))
        assert staged.count() == rep.rows_in


def test_rules_compile_once_per_source(spark, pages_path, tmp_path, monkeypatch):
    """One compile_rule call per rule per compile_mapping call (raise mode
    used to build every predicate twice, report mode three times), and one
    per rule per source per run_pipeline call, whatever n_chunks is."""
    calls = []
    real = validate.compile_rule
    monkeypatch.setattr(validate, "compile_rule",
                        lambda col, rule: calls.append(col) or real(col, rule))
    inp = spark.read.parquet(pages_path)
    mapping = {**MAPPING, "validate": {**RULES, "url": {"required": True}}}
    for mode in ("raise", "filter", "report"):
        calls.clear()
        compile_mapping(inp, mapping, validate_mode=mode).elements
        assert sorted(calls) == ["lang", "url"], mode
    for mode, n_chunks in (("report", 1), ("report", 3), ("filter", 3)):
        calls.clear()
        run_pipeline(spark, [inp, inp], [mapping, MAPPING], str(tmp_path / f"{mode}{n_chunks}"),
                     n_chunks=n_chunks, chunk_key="url", validate_mode=mode)
        assert sorted(calls) == ["lang", "lang", "url"], (mode, n_chunks)


def test_unknown_validate_mode_fails_before_spark_work(spark, tmp_path):
    """An unknown mode is rejected even when the mapping has no rules, and
    run_pipeline rejects it before it reads or writes anything."""
    df = spark.createDataFrame([("a", "en")], "url string, lang string")
    mapping = {"row": {"map": {"id_from_column": "url", "to_subject": "page"}}}
    with pytest.raises(ValueError, match="validate_mode must be"):
        compile_mapping(df, mapping, validate_mode="drop")
    out = str(tmp_path / "kg")
    with pytest.raises(ValueError, match="validate_mode must be"):
        run_pipeline(spark, str(tmp_path / "no-such-input"), mapping, out,
                     validate_mode="drop")
    assert not os.path.exists(out)


def test_raw_staged_input_restages(spark, pages_path, tmp_path):
    """An out_dir from a multi-chunk filter run of the former layout holds
    raw rows in staging_input (the rules ran per chunk, at compile). The
    chunks now compile without rules, so the run must re-stage those rows
    through the rules instead of extracting invalid rows."""
    inp = spark.read.parquet(pages_path)
    fresh = run_pipeline(spark, inp, MAPPING, str(tmp_path / "fresh"), n_chunks=3,
                         chunk_key="url", validate_mode="filter")

    out = str(tmp_path / "old")
    stage_in = os.path.join(out, "staging_input")
    (inp.withColumn("_ow_chunk", F.pmod(F.xxhash64("url"), F.lit(3)))
     .write.partitionBy("_ow_chunk").parquet(stage_in))
    conf = {"mapping_hash": fresh.mapping_hash, "affix": "none", "type_affix_sep": ":",
            "n_chunks": 3, "chunk_key": "url", "validate_mode": "filter",
            "staging": "elements", "inputs": [_input_fingerprint(inp)],
            "transformers": registry.fingerprint()}
    with open(os.path.join(out, "_manifest.json"), "w") as f:
        json.dump({"extract_conf": conf, "mapping_hash": fresh.mapping_hash,
                   "final": None, "chunks": {}, "input_staged": [0]}, f)

    rep = run_pipeline(spark, inp, MAPPING, out, n_chunks=3, chunk_key="url",
                       validate_mode="filter")
    assert rep.chunks_extracted == 3
    assert rep.rows_in == fresh.rows_in < inp.count()
    assert spark.read.parquet(stage_in).count() == fresh.rows_in
    assert (rep.fused_nodes, rep.fused_edges) == (fresh.fused_nodes, fresh.fused_edges)
