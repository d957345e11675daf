"""Fault injection for run_pipeline's checkpoint/resume: a crash at each
durable boundary, then a rerun, must give the same final tables and the same
validation block as a run that never crashed."""

import json
import os

import pytest
from pyspark.sql import DataFrameWriter

from ontoweaver_spark.pages import WEB_KG_MAPPING, generate_pages
from ontoweaver_spark.pipeline import run_pipeline

MAPPING = {**WEB_KG_MAPPING, "validate": {"lang": {"isin": ["en", "es", "fr", "de"]}}}


class Injected(RuntimeError):
    pass


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fault_pages") / "pages")
    generate_pages(spark, 240, seed=11, partitions=4).write.parquet(path)
    return spark.read.parquet(path)


def _manifest(out):
    with open(os.path.join(out, "_manifest.json")) as f:
        return json.load(f)


def _tables(spark, out):
    """Final nodes and edges as sorted canonical JSON lines."""
    def canon(name):
        rows = spark.read.parquet(os.path.join(out, name)).collect()
        return sorted(json.dumps({**r.asDict(), "properties": sorted(
            (k, list(v)) for k, v in (r["properties"] or {}).items())}, sort_keys=True)
            for r in rows)
    return canon("nodes"), canon("edges")


@pytest.fixture(scope="module")
def clean(spark, pages, tmp_path_factory):
    """Tables and validation block of uncrashed runs, per chunk count."""
    got = {}
    for n in (1, 3):
        out = str(tmp_path_factory.mktemp(f"clean{n}") / "kg")
        run_pipeline(spark, pages, MAPPING, out, n_chunks=n, chunk_key="url")
        got[n] = (_tables(spark, out), _manifest(out)["validation"])
    return got


def _fail_writes(monkeypatch, when):
    """Make ``DataFrameWriter.parquet`` raise ``Injected`` for paths where
    ``when(path)`` returns "before" (nothing written) or "after" (written,
    then the caller crashes)."""
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        mode = when(path)
        if mode == "before":
            raise Injected(path)
        real(self, path, *args, **kwargs)
        if mode == "after":
            raise Injected(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _is(path, *tail):
    return os.path.normpath(path).endswith(os.path.join(*tail))


def test_crash_after_staging_write_before_manifest_save(
        spark, pages, clean, tmp_path, monkeypatch):
    """The chunk's elements are on disk but its manifest entry (and the
    validation counts observed on that write) never landed."""
    out = str(tmp_path / "kg")
    with monkeypatch.context() as mp:
        _fail_writes(mp, lambda p: "after" if _is(p, "staging", "chunk-0") else None)
        with pytest.raises(Injected):
            run_pipeline(spark, pages, MAPPING, out, n_chunks=1)
    m = _manifest(out) if os.path.exists(os.path.join(out, "_manifest.json")) else {}
    assert not m.get("chunks") and "validation" not in m

    rep = run_pipeline(spark, pages, MAPPING, out, n_chunks=1)
    assert rep.chunks_extracted == 1
    assert (_tables(spark, out), _manifest(out)["validation"]) == clean[1]


@pytest.mark.parametrize("table", ["nodes", "edges"])
def test_crash_in_one_concurrent_fused_write(
        spark, pages, clean, tmp_path, monkeypatch, table):
    out = str(tmp_path / "kg")
    with monkeypatch.context() as mp:
        _fail_writes(mp, lambda p: "before" if _is(p, "kg", table) else None)
        with pytest.raises(Injected):
            run_pipeline(spark, pages, MAPPING, out, n_chunks=3, chunk_key="url")
    m = _manifest(out)
    assert m["final"] is None
    assert all(c["done"] for c in m["chunks"].values()) and len(m["chunks"]) == 3

    rep = run_pipeline(spark, pages, MAPPING, out, n_chunks=3, chunk_key="url")
    assert rep.chunks_resumed == 3 and rep.chunks_extracted == 0
    assert (_tables(spark, out), _manifest(out)["validation"]) == clean[3]
    assert _manifest(out)["final"]["nodes"] == rep.fused_nodes


def test_crash_in_fusion_invalidates_reused_snapshot(
        spark, pages, clean, tmp_path, monkeypatch):
    """A finished run re-fused with new parameters crashes mid-write: the
    old snapshot must not be reused afterwards, its tables are half
    overwritten."""
    out = str(tmp_path / "kg")
    run_pipeline(spark, pages, MAPPING, out, n_chunks=3, chunk_key="url")
    with monkeypatch.context() as mp:
        _fail_writes(mp, lambda p: "before" if _is(p, "kg", "edges") else None)
        with pytest.raises(Injected):
            run_pipeline(spark, pages, MAPPING, out, n_chunks=3, chunk_key="url",
                         prop_sep=";")
    assert _manifest(out)["final"] is None
    run_pipeline(spark, pages, MAPPING, out, n_chunks=3, chunk_key="url")
    assert (_tables(spark, out), _manifest(out)["validation"]) == clean[3]


def test_crash_midway_through_multichunk_validated_run(
        spark, pages, clean, tmp_path, monkeypatch):
    out = str(tmp_path / "kg")
    with monkeypatch.context() as mp:
        _fail_writes(mp, lambda p: "before" if _is(p, "staging", "chunk-1") else None)
        with pytest.raises(Injected):
            run_pipeline(spark, pages, MAPPING, out, n_chunks=3, chunk_key="url")
    m = _manifest(out)
    assert m["input_staged"] and set(m["chunks"]) == {"0"}
    assert m["validation"] == clean[3][1]

    rep = run_pipeline(spark, pages, MAPPING, out, n_chunks=3, chunk_key="url")
    assert rep.chunks_resumed == 1 and rep.chunks_extracted == 2
    assert (_tables(spark, out), _manifest(out)["validation"]) == clean[3]
