"""The module CLI with two DATA:MAPPING pairs: both sources are extracted,
unioned and fused once, so a node id both sources emit becomes one row,
whether each source is extracted in one chunk or several."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GENES = (
    "row:\n  map:\n    id_from_column: gene\n    to_subject: gene\n"
    "transformers:\n  - map:\n      column: disease\n      to_object: disease\n"
    "      via_relation: gene_disease\n"
    "validate:\n  disease:\n    isin: [d1, d2]\n"
)
SYMBOLS = (
    "row:\n  map:\n    id_from_column: gene\n    to_subject: gene\n"
    "transformers:\n  - map:\n      column: symbol\n      to_properties: [symbol]\n"
)


def _cli(*args):
    proc = subprocess.run(
        [sys.executable, "-m", "ontoweaver_spark", *args, "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, cwd=ROOT, env={**os.environ},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _rows(df):
    return sorted(json.dumps({**r.asDict(), "properties": sorted(
        (k, list(v)) for k, v in (r["properties"] or {}).items())}, sort_keys=True)
        for r in df.collect())


def test_two_sources_fuse_into_one_graph(spark, tmp_path):
    (tmp_path / "genes.csv").write_text("gene,disease\ng1,d1\ng2,d1\ng2,d2\n")
    (tmp_path / "symbols.csv").write_text("gene,symbol\ng1,TP53\ng3,BRCA1\n")
    (tmp_path / "genes.yaml").write_text(GENES)
    (tmp_path / "symbols.yaml").write_text(SYMBOLS)
    out = tmp_path / "out"

    pairs = (f"{tmp_path / 'genes.csv'}:{tmp_path / 'genes.yaml'}",
             f"{tmp_path / 'symbols.csv'}:{tmp_path / 'symbols.yaml'}")
    result = _cli(*pairs, "--out", str(out))

    nodes = spark.read.parquet(str(out / "nodes"))
    edges = spark.read.parquet(str(out / "edges"))
    g1 = nodes.where("id = 'g1'").collect()
    assert len(g1) == 1  # emitted by both sources, fused to one row
    assert g1[0]["label"] == "gene" and g1[0]["properties"]["symbol"] == ["TP53"]
    assert {r["id"] for r in nodes.collect()} == {"g1", "g2", "g3", "d1", "d2"}

    with open(out / "_manifest.json") as f:
        final = json.load(f)["final"]
    # counts observed on the writes equal a re-read of what was written
    assert (final["nodes"], final["edges"]) == (nodes.count(), edges.count()) == (5, 3)
    assert (result["nodes"], result["edges"]) == (5, 3)

    # two chunks per source, auto salt, report-mode validation: the same
    # graph, and each source's validation counts reach the manifest
    chunked = tmp_path / "chunked"
    result2 = _cli(*pairs, "--out", str(chunked), "--chunks", "2", "--salt", "-1",
                   "--validate", "report")
    assert result2["chunks_extracted"] == 4 and (result2["nodes"], result2["edges"]) == (5, 3)
    for table, df in (("nodes", nodes), ("edges", edges)):
        assert _rows(spark.read.parquet(str(chunked / table))) == _rows(df)
    with open(chunked / "_manifest.json") as f:
        manifest = json.load(f)
    assert manifest["validation"] == {
        "0": {"total": 3, "valid": 3, "invalid": 0, "per_rule": {"disease": 0}}}
    assert sorted(manifest["chunks"]) == ["0", "1", "2", "3"]
