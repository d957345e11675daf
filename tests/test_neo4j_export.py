"""Neo4j bulk-import emitter: per-label header+parts CSV groups plus a
generated neo4j-admin script must reproduce the fused graph exactly
(the reference's BioCypher/--import-script-run surface,
/root/reference/src/ontoweaver/ontoweave.py:441-452)."""

import csv
import glob
import os


def _read_group(gdir):
    with open(os.path.join(gdir, "header.csv")) as f:
        header = f.read().strip().split(",")
    rows = []
    for part in sorted(glob.glob(os.path.join(gdir, "data", "part-*"))):
        with open(part, newline="") as f:
            rows.extend(csv.reader(f))
    return header, rows


def test_neo4j_import_dir(spark, tmp_path):
    from ontoweaver_spark import weave, write_neo4j_import

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mapping = {
        "row": {"map": {"id_from_column": "doc_id", "to_subject": "document"}},
        "transformers": [
            {"map": {"column": "lang", "to_object": "language",
                     "via_relation": "in_language"}},
            {"map": {"column": "n_chars", "to_properties": ["n_chars"]}},
            {"map": {"column": "source", "to_properties": ["seen_in"]}},
        ],
    }
    fnodes, fedges = weave(docs, mapping, affix="suffix")
    out = str(tmp_path / "neo4j")
    manifest = write_neo4j_import(fnodes, fedges, out)

    assert set(manifest["nodes"]) == {"document", "language"}
    assert set(manifest["edges"]) == {"in_language"}

    header, rows = _read_group(manifest["nodes"]["document"])
    assert header[:2] == [":ID", ":LABEL"]
    assert "n_chars" in header and "seen_in" in header
    assert len(rows) == fnodes.where("label = 'document'").count()
    assert all(r[1] == "document" for r in rows)
    # property values survive the round trip
    by_id = {r[0]: r for r in rows}
    sample = fnodes.where("label = 'document'").limit(3).collect()
    n_chars_ix = header.index("n_chars")
    for s in sample:
        assert by_id[s["id"]][n_chars_ix] == s["properties"]["n_chars"][0]

    eheader, erows = _read_group(manifest["edges"]["in_language"])
    assert eheader[:4] == [":START_ID", ":END_ID", ":TYPE", "id"]
    assert len(erows) == fedges.count()
    assert all(r[2] == "in_language" for r in erows)

    # the generated script references every group and is executable
    with open(manifest["script"]) as f:
        script = f.read()
    assert "neo4j-admin database import full neo4j" in script
    for gdir in list(manifest["nodes"].values()) + list(manifest["edges"].values()):
        assert f"{gdir}/header.csv,{gdir}/data/part-.*" in script
    assert os.access(manifest["script"], os.X_OK)


def test_neo4j_export_chunked_pre_render(spark, tmp_path):
    """ADVICE r3 (low): --chunks N --prop-sep X --neo4j-out must export the
    SAME pre-render shape as the single-shot path — multi-valued props as
    ``:string[]`` header columns — not the post --prop-sep joined-string
    scalars the old from-final-parquet export emitted."""
    from ontoweaver_spark.pipeline import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # subject = lang: fusion merges many docs per language, so `seen_in`
    # becomes genuinely multi-valued
    mapping = {
        "row": {"map": {"id_from_column": "lang", "to_subject": "language"}},
        "transformers": [
            {"map": {"column": "source", "to_properties": ["seen_in"]}},
        ],
    }
    out = str(tmp_path / "run")
    neo = str(tmp_path / "neo4j")
    report = run_pipeline(
        spark, docs, mapping, out, n_chunks=2, prop_sep=";", neo4j_out=neo,
    )
    assert report.fused_nodes > 0

    header, rows = _read_group(os.path.join(neo, "nodes_language"))
    assert "seen_in:string[]" in header  # pre-render arrays, not scalars
    ix = header.index("seen_in:string[]")
    assert any(";" in r[ix] for r in rows)  # multi-valued join visible
    # while the final parquet IS the rendered (prop_sep) shape
    final = spark.read.parquet(os.path.join(out, "nodes"))
    assert dict(final.dtypes)["properties"] == "map<string,string>"


def test_run_import_script(tmp_path, monkeypatch):
    """VERDICT r3 #5: the --import-script-run analog executes the generated
    script and propagates its exit code; absent neo4j-admin fails loudly."""
    import pytest

    from ontoweaver_spark.neo4j_export import run_import_script

    out = tmp_path / "neo"
    out.mkdir()
    script = out / "neo4j-import.sh"
    script.write_text("#!/usr/bin/env bash\nneo4j-admin probe || exit 3\n")
    script.chmod(0o755)

    real_path = os.environ.get("PATH", "")

    # no neo4j-admin on PATH -> loud failure, script left in place
    monkeypatch.setenv("PATH", str(tmp_path))
    with pytest.raises(FileNotFoundError, match="neo4j-admin not found"):
        run_import_script(str(out))

    # fake binary on PATH: exit code propagates (here the probe fails -> 3)
    bindir = tmp_path / "bin"
    bindir.mkdir()
    fake = bindir / "neo4j-admin"
    fake.write_text(f"#!/usr/bin/env bash\necho \"$@\" >> {tmp_path}/calls.txt\nexit 1\n")
    fake.chmod(0o755)
    monkeypatch.setenv("PATH", f"{bindir}:{real_path}")
    assert run_import_script(str(out)) == 3
    assert "probe" in (tmp_path / "calls.txt").read_text()

    # and a succeeding binary propagates 0
    fake.write_text(f"#!/usr/bin/env bash\necho \"$@\" >> {tmp_path}/calls.txt\nexit 0\n")
    assert run_import_script(str(out)) == 0

    with pytest.raises(FileNotFoundError, match="no generated import script"):
        run_import_script(str(tmp_path / "missing"))


def test_neo4j_multivalued_and_quoting(spark, tmp_path):
    """Multi-valued properties render as string[] with the array delimiter;
    values containing the CSV delimiter are RFC4180-quoted."""
    from ontoweaver_spark.neo4j_export import write_neo4j_import

    fnodes = spark.createDataFrame(
        [("a", "thing", {"tags": ["x", "y"], "note": ['has,comma and "quote"']}),
         ("b", "thing", {"tags": ["z"], "note": ["plain"]})],
        "id string, label string, properties map<string,array<string>>",
    )
    fedges = spark.createDataFrame(
        [("e1", "a", "b", "rel", {})],
        "id string, src string, dst string, label string, "
        "properties map<string,array<string>>",
    )
    out = str(tmp_path / "neo")
    manifest = write_neo4j_import(fnodes, fedges, out)
    header, rows = _read_group(manifest["nodes"]["thing"])
    assert header == [":ID", ":LABEL", "note", "tags:string[]"]
    by_id = {r[0]: r for r in rows}
    assert by_id["a"][3] == "x;y"  # array delimiter join
    assert by_id["a"][2] == 'has,comma and "quote"'  # csv module re-parses it


def _neo4j_dir(out):
    """Every group's header and sorted rows, plus the import script with
    the directory name factored out."""
    groups = {}
    for gdir in sorted(glob.glob(os.path.join(out, "*_*"))):
        header, rows = _read_group(gdir)
        groups[os.path.basename(gdir)] = (header, sorted(rows))
    with open(os.path.join(out, "neo4j-import.sh")) as f:
        return groups, f.read().replace(out, "<DIR>")


def test_run_with_sinks_fuses_once(spark, tmp_path):
    """With Neo4j export, integrity and --prop-sep rendering all on,
    run_pipeline writes the same Neo4j directory and integrity report as
    the writers give on freshly fused frames, but fuses once: every sink
    reads the fused frames the final writes pinned, instead of re-running
    the fusion shuffle per label group and per check."""
    from ontoweaver_spark.compiler import compile_mapping
    from ontoweaver_spark.fusion import reconciliate
    from ontoweaver_spark.neo4j_export import write_neo4j_import
    from ontoweaver_spark.pages import WEB_KG_MAPPING, generate_pages
    from ontoweaver_spark.pipeline import run_pipeline
    from ontoweaver_spark.validate import graph_integrity

    mapping = {**WEB_KG_MAPPING, "validate": {"lang": {"isin": ["en", "es", "fr", "de"]}}}
    inp = str(tmp_path / "pages")
    generate_pages(spark, 240, seed=7, partitions=4).write.parquet(inp)
    pages = spark.read.parquet(inp)

    sc = spark.sparkContext
    group = "sinks-fuse-once"
    sc.setJobGroup(group, "run_pipeline with every sink")
    try:
        rep = run_pipeline(spark, pages, mapping, str(tmp_path / "kg"), n_chunks=1,
                           neo4j_out=str(tmp_path / "neo4j"), validate_output=True,
                           prop_sep=";")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    res = compile_mapping(pages, mapping, validate_mode="filter")
    fnodes, fedges = reconciliate(res.nodes, res.edges, raise_errors=False)
    write_neo4j_import(fnodes, fedges, str(tmp_path / "fresh"))
    assert _neo4j_dir(str(tmp_path / "neo4j")) == _neo4j_dir(str(tmp_path / "fresh"))
    assert rep.integrity == graph_integrity(fnodes, fedges)
    assert rep.integrity["ok"] and rep.fused_nodes == rep.integrity["nodes"]
    # local[4], this fixture: 54 jobs when every sink re-ran fusion from
    # staging, 30 with the sinks reading the pinned fused frames
    assert jobs <= 30, f"{jobs} Spark jobs"
