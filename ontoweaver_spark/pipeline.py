"""End-to-end pipeline: read -> extract -> (checkpoint) -> fuse -> write,
with per-partition lineage + metrics and chunk-level resume.

The reference funnels everything into BioCypher writers
(/root/reference/src/ontoweaver/__init__.py:640-673) with no checkpointing;
this module is the Spark-native analog required by the north rule, and the
one driver of a KG job: the ``ontoweave`` CLI runs every invocation through
:func:`run_pipeline`. Every phase is ONE pass over its data; the manifest's
counts are taken with ``Observation``s on the writes that run anyway, never
by re-scanning.

- **Phase 0 (validate; stage input in multi-chunk runs).** Each source's
  rules are applied once (:func:`validate.apply_rules`); its chunks compile
  without them. A multi-chunk run writes the rows that pass once to
  ``staging_input``, partitioned by chunk id (hash of a stable key), so each
  chunk reads only its own directory and raise mode fails before any chunk.
- **Phase 1 (extract)** is a row-local flatMap, embarrassingly parallel.
  Each chunk's subject nodes, object nodes and edges come out of a single
  explode (``ExtractResult.elements``) and are written once, partitioned by
  kind, to ``staging/chunk-<c>/kind={node,edge}``. The chunk is recorded in
  a JSON manifest with lineage (mapping hash, options, source and chunk
  id) and metrics. A re-run skips chunks already in the manifest unless
  ``extract_conf`` changed: the mapping, an option, a registered
  transformer's source file, or how the input frame was built (its plan,
  reader options and files: :func:`_input_fingerprint`).
- **Phase 2 (fuse)** reads every ``staging/chunk-<c>/kind=node`` (and
  ``kind=edge``) directory and runs the global reconciliation. The fused
  nodes and the fused edges are written concurrently (two independent
  jobs: the hub-skewed node reduce leaves cores the edge fusion uses) as
  parquet partitioned by label (partition pruning for per-type consumers);
  the optional sinks (bucketed tables, Neo4j export, integrity, SHACL)
  then read the fused frames pinned by those writes (:func:`_publish`).
  ``manifest["final"]`` is saved only once the writes and sinks succeed.

Where each manifest count comes from:

- ``validation`` (total/valid/invalid/per-rule): observed on the first
  action that scans the raw input — the ``staging_input`` write when
  ``n_chunks > 1``, else the chunk's extraction write;
- ``chunks[c].rows_in`` and ``chunks[c].partitions``: observed on the
  chunk's (validated) input rows inside the extraction write, as an exact
  histogram of the pinned ``spark_partition_id()`` (:func:`partition_metrics`);
- ``chunks[c].nodes`` / ``.edges`` (raw, pre-fusion): ``count_if`` on the
  element kind, observed on the extraction write;
- ``final.nodes`` / ``.edges`` and ``final.property_conflicts``: ``count``
  and ``sum(has_property_conflict)`` observed on the two final writes.

At cluster scale each phase is one spark-submit-able job; staging parquet
plays the role of an Iceberg snapshot boundary.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, field, replace
from typing import Optional, Union
from urllib.parse import unquote, urlparse

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import registry
from .compiler import EDGE_SCHEMA, NODE_SCHEMA, compile_mapping
from .fusion import format_for_export, has_property_conflict, reconciliate
from .ids import natural_sort_key
from .spec import MappingSpec, load_mapping
from .validate import (ValidationReport, apply_rules, check_mode, graph_integrity,
                       graph_props_frame, load_shapes, shacl_validate)

#: staging layout tag recorded in ``extract_conf``: an out_dir staged under
#: another layout (the former ``chunk-<c>/{nodes,edges}``) re-extracts
#: instead of fusing from directories that are not there
STAGING_LAYOUT = "elements"


@dataclass
class RunReport:
    out_dir: str
    mapping_hash: str
    chunks_total: int = 0
    chunks_resumed: int = 0
    chunks_extracted: int = 0
    rows_in: int = 0
    raw_nodes: int = 0
    raw_edges: int = 0
    fused_nodes: int = 0
    fused_edges: int = 0
    node_property_conflicts: int = 0
    edge_property_conflicts: int = 0
    seconds: float = 0.0
    partition_metrics: list = field(default_factory=list)
    integrity: Optional[dict] = None
    shacl_violations: Optional[int] = None
    shacl_sample: list = field(default_factory=list)


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


def _load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"chunks": {}, "final": None}


def _save_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


def _input_fingerprint(df: DataFrame) -> str:
    """What resume keys a source on, as one sha256: the frame's schema and
    canonical analyzed plan (a sample's fraction and seed, a generator's
    size), each file relation's reader options (a CSV ``sep``) and its
    sorted input files, local ones with size and mtime. Driver-side only,
    no Spark job. Not covered, so rerun those into a fresh out_dir: the
    rows of an in-memory frame (its plan holds none), a changed remote file
    kept under its name, and a scan that lists no files (a non-file DSv2
    table such as Iceberg)."""
    plan = df._jdf.queryExecution().analyzed()
    parts = [df.schema.json(), plan.canonicalized().toString()]
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            if (rel := leaf.relation()).getClass().getSimpleName() == "HadoopFsRelation":
                parts.append(rel.options().toString())
    for uri in sorted(df.inputFiles()):
        url = urlparse(uri)
        st = os.stat(unquote(url.path)) if url.scheme in ("", "file") else None
        parts.append(f"{uri} {st and st.st_size} {st and st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def _observe_partitions(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach an observation of the per-partition row counts to ``df``.

    ``observe`` rejects ``spark_partition_id()`` itself, so the id is pinned
    to a column first. ``histogram_numeric`` over it is exact here: each
    task contributes one id, far below the bin count."""
    obs = Observation()
    df = (
        df.withColumn("_ow_pid", F.spark_partition_id())
        .observe(obs, F.histogram_numeric("_ow_pid", F.lit(1 << 20)).alias("hist"))
        .drop("_ow_pid")
    )
    return df, obs


def partition_metrics(observed: dict) -> list[dict]:
    """Per-partition row counts (lineage metric) from the values of an
    :func:`_observe_partitions` observation; partitions without rows are
    absent."""
    return sorted(
        ({"partition": int(b["x"]), "rows": int(b["y"])} for b in observed["hist"] or []),
        key=lambda m: m["partition"],
    )


def _concurrently(*fns):
    """Call each function in its own ``InheritableThread`` (the caller's job
    group and local properties carry over) and return their results in
    order. All threads are joined; then the first error raised is re-raised."""
    results = [None] * len(fns)
    errors = []

    def run(i):
        try:
            results[i] = fns[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised in the caller
            errors.append(e)

    threads = [InheritableThread(target=run, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def _clear_orphan_location(spark: SparkSession, table: str) -> None:
    """Remove a managed-table directory that has NO catalog owner — a
    leftover from a previous session's (local derby) metastore. Spark
    refuses to adopt such a location (LOCATION_ALREADY_EXISTS), and this
    only deletes when the catalog genuinely has no entry for ``table``.
    The managed layout is ``warehouse/<name>`` for the default database and
    ``warehouse/<db>.db/<name>`` otherwise."""
    if spark.catalog.tableExists(table):
        return
    import shutil

    parts = table.lower().split(".")
    name = parts[-1]
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme in ("", "file"):
        base = wh.path if db == "default" else os.path.join(wh.path, f"{db}.db")
        stale = os.path.join(base, name)
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)


def write_bucketed_graph(
    fnodes: DataFrame,
    fedges: DataFrame,
    database: str = "kg",
    n_buckets: int = 64,
) -> None:
    """Materialize the fused graph as bucketed tables: nodes bucketed by
    ``id``, edges bucketed by ``src`` (the common join key for traversals).

    A downstream edge->node join on pre-bucketed tables needs NO shuffle —
    both sides are already hash-partitioned on the join key on disk
    (SortMergeJoin with zero Exchange; verified in
    tests/test_bucketed_graph.py). At 100 TB this turns every
    neighborhood-expansion query from a full-graph shuffle into a
    partition-local merge. Bucket count should match the downstream
    parallelism target (buckets = max useful tasks for the join).
    """
    spark = fnodes.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    _clear_orphan_location(spark, f"{database}.nodes")
    _clear_orphan_location(spark, f"{database}.edges")
    (
        fnodes.write.mode("overwrite")
        .bucketBy(n_buckets, "id").sortBy("id")
        .saveAsTable(f"{database}.nodes")
    )
    (
        fedges.write.mode("overwrite")
        .bucketBy(n_buckets, "src").sortBy("src")
        .saveAsTable(f"{database}.edges")
    )


def write_graph_catalog_tables(
    fnodes: DataFrame,
    fedges: DataFrame,
    prefix: str,
    fmt: Optional[str] = None,
    partition_col: str = "label",
) -> None:
    """Materialize the fused graph through the DataSourceV2 ``writeTo``
    API into catalog tables ``<prefix>_nodes`` / ``<prefix>_edges``,
    label-partitioned — the Iceberg-sink shape of the north rule.

    On a cluster with an Iceberg catalog configured pass ``fmt="iceberg"``
    and a catalog-qualified prefix (``lake.db.graph``): you get Iceberg
    tables with snapshot isolation and hidden partitioning, and
    ``read_table("iceberg:lake.db.graph_nodes")`` reads them back with
    pruning/pushdown intact. In this sandbox (no Iceberg runtime jar) the
    same call with ``fmt=None`` exercises the identical code path against
    the session catalog's default source — the gate is the cluster
    classpath, not this code."""
    from pyspark.errors.exceptions.captured import AnalysisException

    spark = fnodes.sparkSession
    for name, df in (("nodes", fnodes), ("edges", fedges)):
        table = f"{prefix}_{name}"
        writer = df.writeTo(table).partitionedBy(F.col(partition_col))
        writer = writer.using(fmt or "parquet")
        try:
            # atomic swap on real V2 catalogs (Iceberg RTAS)
            writer.createOrReplace()
        except AnalysisException:
            # V1 session-catalog fallback (no REPLACE TABLE AS SELECT).
            # A managed location with NO catalog entry is an orphan from a
            # previous metastore (local derby dies with the session); Spark
            # refuses to adopt it (LOCATION_ALREADY_EXISTS), so clear it —
            # only when the catalog genuinely has no owner for it.
            _clear_orphan_location(spark, table)
            (
                df.write.mode("overwrite")
                .format(fmt or "parquet")
                .partitionBy(partition_col)
                .saveAsTable(table)
            )


def run_pipeline(
    spark: SparkSession,
    input_df: Union[DataFrame, str, list],
    mapping: Union[dict, str, MappingSpec, list],
    out_dir: str,
    affix: str = "none",
    type_affix_sep: str = ":",
    reconciliate_sep: str = "|",
    chunk_key: Optional[str] = None,
    n_chunks: int = 1,
    salt: int = 0,
    raise_errors: bool = False,
    validate_mode: str = "report",
    property_mergers: Optional[dict] = None,
    prop_sep: Optional[str] = None,
    sort: Optional[str] = None,
    validate_output: bool = False,
    bucketed_out: Optional[str] = None,
    neo4j_out: Optional[str] = None,
    shacl: Optional[str] = None,
) -> RunReport:
    """Run the full pipeline with checkpoint/resume.

    ``input_df`` and ``mapping`` may be equal-length lists of sources
    (multi-source fusion): each is validated, staged (to
    ``staging_input-<s>``) and extracted on its own, its chunk ``c`` is
    chunk ``s * n_chunks + c`` of the run, its validation block is
    ``manifest["validation"][str(s)]``, and one reconciliation fuses all.

    Everything after fusion is :func:`_publish`: the ``prop_sep`` render
    and ``sort`` of the final tables, then the ``bucketed_out``,
    ``neo4j_out`` and ``validate_output`` sinks (``report.integrity``) and
    the SHACL gate over the shapes file ``shacl`` (``report.shacl_violations``;
    the file is parsed before any write). Fusion runs once whichever are on.

    ``chunk_key``: stable column used to split the input into resumable
    chunks (e.g. ``url``). With ``n_chunks=1`` staging is a single snapshot.

    ``validate_mode``: what a mapping-level ``validate:`` section does with
    invalid rows (:func:`validate.apply_rules`) — the pipeline default is
    ``"report"`` (drop + surface the per-rule violation counts in the
    manifest); ``"raise"`` matches the reference's fail-loud InputValidator;
    ``"filter"`` drops silently. An unknown mode fails before any Spark work.

    ``property_mergers``: optional {property name -> mergers.Merger} applied
    to the fused nodes before writing (``mergers.render_properties``); any
    ``EnsureIdentical`` conflicts they render are counted into the manifest
    as ``property_conflicts`` instead of merging silently.
    """
    t0 = time.time()
    check_mode(validate_mode)
    shapes = None
    if shacl:
        shapes = load_shapes(shacl)  # a bad shapes file fails before any write
    pairs = (list(zip(input_df, mapping, strict=True))
             if isinstance(input_df, (list, tuple)) else [(input_df, mapping)])
    tables = [spark.read.parquet(t) if isinstance(t, str) else t for t, _ in pairs]
    specs = [m if isinstance(m, MappingSpec) else load_mapping(m) for _, m in pairs]
    many = len(pairs) > 1
    mhash = "+".join(spec.spec_hash() for spec in specs)

    staging = os.path.join(out_dir, "staging")
    manifest = _load_manifest(out_dir)
    # ANYTHING that shapes chunk content is in the key: a rerun with another
    # --affix, --sub-sample, --register module or rewritten input re-extracts
    chunk_conf = {
        "mapping_hash": mhash, "affix": affix, "type_affix_sep": type_affix_sep,
        "n_chunks": n_chunks, "chunk_key": chunk_key,
        "validate_mode": validate_mode, "staging": STAGING_LAYOUT,
    }
    extract_conf = {**chunk_conf, "inputs": [_input_fingerprint(t) for t in tables],
                    "transformers": registry.fingerprint(),
                    # staging_input holds only rows that passed the rules (an
                    # out_dir that staged raw rows re-stages)
                    "staging_input": "validated"}
    if manifest.get("extract_conf") != extract_conf:
        manifest = {"chunks": {}, "final": None}
    manifest["extract_conf"] = extract_conf
    manifest["mapping_hash"] = mhash

    report = RunReport(out_dir=out_dir, mapping_hash=mhash,
                       chunks_total=n_chunks * len(pairs))
    validation = None  # Observation, until its counts reach the manifest

    def record_validation(s: int):
        # call only after the action carrying the observation has succeeded
        nonlocal validation
        if validation is not None:
            block = asdict(ValidationReport.from_row(validation.get, specs[s].input_rules))
            manifest["validation"] = (
                {**manifest.get("validation", {}), str(s): block} if many else block)
            validation = None

    # ---- phase 0 / 1: per source, chunked extraction with resume ------------
    for s, (table, spec) in enumerate(zip(tables, specs)):
        first = s * n_chunks
        todo = [c for c in range(first, first + n_chunks)
                if not manifest["chunks"].get(str(c), {}).get("done")]
        report.chunks_resumed += n_chunks - len(todo)
        if not todo:
            continue
        staged_sources = manifest.get("input_staged", [])

        # the rules run once per source, on the first action that scans its
        # input (the staging_input write, else the extraction write); a resume
        # reads staged rows that already passed them and keeps their counts
        if n_chunks == 1 or s not in staged_sources:
            table, validation = apply_rules(table, spec.input_rules, validate_mode,
                                            observe=True)
        spec = replace(spec, input_rules={})

        # Multi-chunk runs stage the input ONCE, partitioned by chunk id (one
        # full input scan); each chunk then reads only its own directory.
        if n_chunks > 1:
            stage_in = os.path.join(out_dir, "staging_input" + (f"-{s}" if many else ""))
            if s not in staged_sources:
                key = F.col(chunk_key) if chunk_key else F.concat_ws("\x1f", *table.columns)
                (
                    table
                    .withColumn("_ow_chunk", F.pmod(F.xxhash64(key), F.lit(n_chunks)))
                    .write.mode("overwrite").partitionBy("_ow_chunk").parquet(stage_in)
                )
                record_validation(s)
                manifest["input_staged"] = [*staged_sources, s]
                _save_manifest(out_dir, manifest)
            staged_input = spark.read.parquet(stage_in)

        for chunk in todo:
            if n_chunks > 1:
                part = (staged_input.where(F.col("_ow_chunk") == chunk - first)
                        .drop("_ow_chunk"))
            else:
                part = table
            part, rows_obs = _observe_partitions(part)

            res = compile_mapping(part, spec, affix=affix, type_affix_sep=type_affix_sep)
            kinds = Observation()
            kind = F.col("kind")
            (
                res.elements.observe(
                    kinds,
                    F.count_if(kind == "node").alias("nodes"),
                    F.count_if(kind == "edge").alias("edges"),
                )
                .write.mode("overwrite").partitionBy("kind")
                .parquet(os.path.join(staging, f"chunk-{chunk}"))
            )
            record_validation(s)
            pm = partition_metrics(rows_obs.get)
            counts = kinds.get
            manifest["chunks"][str(chunk)] = {
                "done": True,
                "rows_in": sum(m["rows"] for m in pm),
                "nodes": counts["nodes"],
                "edges": counts["edges"],
                "partitions": pm,
                "lineage": {**chunk_conf, "source": s, "chunk": chunk},
                "ts": time.time(),
            }
            _save_manifest(out_dir, manifest)
            report.chunks_extracted += 1
            report.partition_metrics.extend(pm)

    report.rows_in = sum(c.get("rows_in", 0) for c in manifest["chunks"].values())
    report.raw_nodes = sum(c.get("nodes", 0) for c in manifest["chunks"].values())
    report.raw_edges = sum(c.get("edges", 0) for c in manifest["chunks"].values())

    # ---- phase 2: global fusion + final write -------------------------------
    fusion_conf = {"reconciliate_sep": reconciliate_sep, "salt": salt,
                   "n_chunks": n_chunks, "raise_errors": raise_errors,
                   # merger functions aren't hashable across runs; keying on
                   # the property-name set invalidates the snapshot when the
                   # merged property SET changes (same-name merger swaps
                   # still require a fresh out_dir)
                   "property_mergers": sorted(property_mergers or []),
                   # post-fusion output shaping also invalidates the snapshot
                   "prop_sep": prop_sep, "sort": sort,
                   "validate_output": validate_output,
                   "bucketed_out": bucketed_out,
                   "neo4j_out": neo4j_out,
                   # keyed by content: shapes edited in place re-run the gate
                   "shacl": shapes and hashlib.sha256(
                       json.dumps(shapes, sort_keys=True, default=str).encode()).hexdigest()}
    final = manifest.get("final")
    # full resume: no chunk re-extracted and the fused snapshot was built
    # from exactly these chunks with the same fusion parameters — reuse it
    # instead of re-shuffling the staged output
    reuse = report.chunks_extracted == 0 and final and final.get("fusion_conf") == fusion_conf
    if not reuse:
        if final is not None:
            # the final tables are about to be overwritten: until both
            # writes succeed there is no snapshot a rerun could reuse
            manifest["final"] = None
            _save_manifest(out_dir, manifest)

        def staged(kind: str, schema: str) -> DataFrame:
            # one leaf directory per chunk, read with an explicit schema (no
            # partition discovery across chunk roots); a kind no chunk
            # produced (an edge-less mapping) has no directory at all
            paths = [os.path.join(staging, f"chunk-{c}", f"kind={kind}")
                     for c in range(report.chunks_total)]
            paths = [p for p in paths if os.path.isdir(p)]
            if not paths:
                return spark.createDataFrame([], schema)
            return spark.read.schema(schema).parquet(*paths)

        raw_nodes = staged("node", NODE_SCHEMA)
        raw_edges = staged("edge", EDGE_SCHEMA)
        eff_salt = salt
        if salt == -1:
            # auto: heavy-hitter sample over the staged raw node ids
            from .fusion import suggest_salt

            eff_salt = suggest_salt(raw_nodes, ["id"])
        fnodes, fedges = reconciliate(
            raw_nodes, raw_edges,
            reconciliate_sep=reconciliate_sep, raise_errors=raise_errors, salt=eff_salt,
        )
        final = _publish(
            fnodes, fedges, out_dir, reconciliate_sep=reconciliate_sep,
            property_mergers=property_mergers, prop_sep=prop_sep, sort=sort,
            validate_output=validate_output, bucketed_out=bucketed_out,
            neo4j_out=neo4j_out, shapes=shapes,
        )
        final["fusion_conf"] = fusion_conf

    pc = final.get("property_conflicts") or {}
    report.fused_nodes, report.fused_edges = final["nodes"], final["edges"]
    report.node_property_conflicts = pc.get("nodes", 0)
    report.edge_property_conflicts = pc.get("edges", 0)
    report.integrity = final.get("integrity")
    report.shacl_violations = final.get("shacl_violations")
    report.shacl_sample = final.get("shacl_sample", [])
    report.seconds = time.time() - t0
    if not reuse:
        manifest["final"] = {**final, "seconds": report.seconds, "ts": time.time()}
        _save_manifest(out_dir, manifest)
    return report


def _publish(
    fnodes: DataFrame,
    fedges: DataFrame,
    out_dir: str,
    reconciliate_sep: str = "|",
    property_mergers: Optional[dict] = None,
    prop_sep: Optional[str] = None,
    sort: Optional[str] = None,
    validate_output: bool = False,
    bucketed_out: Optional[str] = None,
    neo4j_out: Optional[str] = None,
    shapes: Optional[list] = None,
) -> dict:
    """Everything after fusion in :func:`run_pipeline`.

    Applies ``property_mergers``, then writes the final ``out_dir/nodes``
    and ``out_dir/edges`` concurrently (rendered with ``prop_sep``, then
    natural-sorted by id) with their counts and ``EnsureIdentical``
    conflicts observed on the writes. Only then do the sinks run, in this
    order: bucketed tables in database ``bucketed_out``, the Neo4j import
    directory ``neo4j_out``, ``graph_integrity`` (``validate_output``) and
    the SHACL gate over ``shapes`` (``validate.load_shapes``; violations
    written to ``out_dir/shacl_violations``). Every sink reads the
    PRE-render fused frames (raw ids, array-valued properties: the Neo4j
    ``:string[]`` headers need them).

    When any sink is on, each fused frame is pinned with
    ``localCheckpoint(eager=False)`` inside its writer thread (not
    ``persist``: map-of-array rows in the columnar cache made the Neo4j
    writer an order of magnitude slower), so the fusion shuffle runs once
    per run whatever sinks follow; with none, the final writes run the
    plain fused plan. The pin is not lazy: under AQE building it already
    runs the fusion shuffle-map stages, before the final write starts, and
    that write runs the rest.

    Returns the manifest's ``final`` block: ``nodes``, ``edges``,
    ``property_conflicts``, ``nodes_path``, ``edges_path``, ``integrity``
    (None unless ``validate_output``) and, with ``shapes``,
    ``shacl_violations`` plus ``shacl_sample`` (up to five printable
    violation lines)."""
    if property_mergers:
        from .mergers import render_properties

        fnodes = render_properties(fnodes, sep=reconciliate_sep,
                                   prop_mergers=property_mergers)
    pin = bool(bucketed_out or neo4j_out or validate_output) or shapes is not None

    def write_final(df: DataFrame, path: str) -> tuple[Observation, DataFrame]:
        # pinned inside the writer thread: under AQE even a lazy checkpoint
        # runs the fusion shuffle-map stage, and node and edge fusion
        # should keep running concurrently
        if pin:
            df = df.localCheckpoint(eager=False)
        out = df
        if prop_sep is not None:
            out = format_for_export(out, sep=prop_sep)
        if sort:
            key = natural_sort_key(out.id)
            out = out.orderBy(key.asc() if sort == "ascend" else key.desc())
        # total + EnsureIdentical conflict count, observed on the write
        # (conflicts render as !CONFLICT!-marked values; counting them here
        # surfaces what would otherwise merge silently)
        obs = Observation()
        (
            out.observe(obs, F.count("*").alias("n"),
                        F.sum(has_property_conflict(out).cast("long")).alias("c"))
            .write.mode("overwrite").partitionBy("label").parquet(path)
        )
        return obs, df

    nodes_path = os.path.join(out_dir, "nodes")
    edges_path = os.path.join(out_dir, "edges")
    (node_obs, fnodes), (edge_obs, fedges) = _concurrently(
        lambda: write_final(fnodes, nodes_path),
        lambda: write_final(fedges, edges_path),
    )
    n, e = node_obs.get, edge_obs.get
    final = {
        "nodes": n["n"], "edges": e["n"],
        "property_conflicts": {"nodes": n["c"] or 0, "edges": e["c"] or 0},
        "nodes_path": nodes_path, "edges_path": edges_path,
        "integrity": None,
    }
    if bucketed_out:
        write_bucketed_graph(fnodes, fedges, database=bucketed_out)
    if neo4j_out:
        # looked up at call time: traced runs wrap the module attribute
        from . import neo4j_export

        neo4j_export.write_neo4j_import(fnodes, fedges, neo4j_out)
    if validate_output:
        final["integrity"] = graph_integrity(fnodes, fedges)
    if shapes is not None:
        # publish gate: per-node structural contracts (cardinalities and
        # classes need raw ids and the props map)
        viol = shacl_validate(
            fnodes.select("id", "label"), fedges, shapes, props=graph_props_frame(fnodes),
        ).localCheckpoint()
        final["shacl_violations"] = viol.count()
        final["shacl_sample"] = []
        if final["shacl_violations"]:
            viol.write.mode("overwrite").parquet(os.path.join(out_dir, "shacl_violations"))
            final["shacl_sample"] = [
                f"SHACL {r.violation}: node={r.id} shape={r.shape} "
                f"path={r.path} observed={r.observed}"
                for r in viol.limit(5).collect()
            ]
    return final
