"""Neo4j bulk-import sink: per-label CSV groups + a generated
``neo4j-admin database import`` script.

The reference's headline output is BioCypher's Neo4j import directory — a
``<Label>-header.csv`` plus data parts per label and a shell script invoking
``neo4j-admin import`` (``/root/reference/src/ontoweaver/ontoweave.py:441-452``
drives it via ``--import-script-run``; BioCypher writes the files). This is
the Spark-native analog, no BioCypher needed:

- each label's rows stream to ``nodes_<label>/part-*.csv`` through Spark's
  distributed CSV writer, one job per label group plus one profiling job
  per side, so pass materialized frames (``run_pipeline`` hands it the
  checkpointed fused graph): on lazy fused frames every group re-runs
  fusion. Nothing ever collects to the driver;
- the one-line ``header.csv`` per group is driver-written (config-sized);
- ``neo4j-import.sh`` lists every group with the header,data-regex syntax
  neo4j-admin expects.

CSV dialect: delimiter ``,``, RFC4180 double-quote escaping (Spark option
``escape='"'``) — neo4j-admin's defaults. Multi-valued properties join with
``array_delimiter`` and are declared ``key:string[]`` in the header; scalar
properties stay ``key:string``.
"""

from __future__ import annotations

import json
import os
import re
import stat

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SAFE = re.compile(r"[^A-Za-z0-9_.-]")


def _safe(label: str) -> str:
    return _SAFE.sub("_", label)


def _props_are_arrays(df: DataFrame) -> bool:
    return df.schema["properties"].dataType.valueType.simpleString().startswith("array")


def _prop_profile(df: DataFrame) -> dict[str, list[tuple[str, bool]]]:
    """Per label: sorted property keys + whether any value is multi-valued.
    One small aggregation job (labels x keys rows back to the driver).
    Pre-rendered graphs (map<string,string>, e.g. written with --prop-sep)
    profile as all-scalar."""
    size_v = F.max(F.size("v")) if _props_are_arrays(df) else F.max(F.lit(1))
    rows = (
        df.select("label", F.explode_outer("properties").alias("k", "v"))
        .groupBy("label", "k")
        .agg(size_v.alias("maxn"))
        .collect()
    )
    out: dict[str, list[tuple[str, bool]]] = {}
    for r in rows:
        out.setdefault(r["label"], [])
        if r["k"] is not None:
            out[r["label"]].append((r["k"], r["maxn"] > 1))
    return {lbl: sorted(ks) for lbl, ks in out.items()}


def _write_group(
    df: DataFrame,
    group_dir: str,
    fixed_cols: list,
    header_fixed: list[str],
    keys: list[tuple[str, bool]],
    array_delimiter: str,
) -> None:
    """One label group: driver-side header.csv + distributed data parts."""
    arrays = _props_are_arrays(df)
    prop_cols = []
    header = list(header_fixed)
    for k, multi in keys:
        v = F.col("properties")[k]
        if not arrays:
            prop_cols.append(v.alias(f"p_{k}"))
        elif multi:
            prop_cols.append(F.array_join(v, array_delimiter).alias(f"p_{k}"))
        else:
            prop_cols.append(F.element_at(v, 1).alias(f"p_{k}"))
        header.append(f"{k}:string[]" if multi else k)
    data_dir = os.path.join(group_dir, "data")
    (
        df.select(*fixed_cols, *prop_cols)
        .write.mode("overwrite")
        .option("quote", '"').option("escape", '"')  # RFC4180 doubling
        .option("emptyValue", "")
        .csv(data_dir)
    )
    with open(os.path.join(group_dir, "header.csv"), "w") as f:
        f.write(",".join(header) + "\n")


def write_neo4j_import(
    fnodes: DataFrame,
    fedges: DataFrame,
    out_dir: str,
    database: str = "neo4j",
    array_delimiter: str = ";",
) -> dict:
    """Write the fused graph as a Neo4j bulk-import directory and return a
    manifest ``{"nodes": {label: dir}, "edges": ..., "script": path}``.

    Expects the fused shape (id/label/properties nodes, id/src/dst/label/
    properties edges) with array-valued properties (pre-``format_for_export``
    — the renderer here controls its own array delimiter). Edge fused ids
    ride along as an ``id`` property on the relationship.
    """
    os.makedirs(out_dir, exist_ok=True)
    node_groups: dict[str, str] = {}
    edge_groups: dict[str, str] = {}

    nprofile = _prop_profile(fnodes)
    for label in sorted(nprofile):
        gdir = os.path.join(out_dir, f"nodes_{_safe(label)}")
        _write_group(
            fnodes.where(F.col("label") == label),
            gdir,
            [F.col("id"), F.col("label").alias("lbl")],
            [":ID", ":LABEL"],
            nprofile[label],
            array_delimiter,
        )
        node_groups[label] = gdir

    eprofile = _prop_profile(fedges)
    for label in sorted(eprofile):
        gdir = os.path.join(out_dir, f"edges_{_safe(label)}")
        _write_group(
            fedges.where(F.col("label") == label),
            gdir,
            [F.col("src"), F.col("dst"), F.col("label").alias("lbl"), F.col("id")],
            [":START_ID", ":END_ID", ":TYPE", "id"],
            eprofile[label],
            array_delimiter,
        )
        edge_groups[label] = gdir

    lines = [
        "#!/usr/bin/env bash",
        "# generated by ontoweaver_spark (neo4j-admin bulk import; the",
        "# reference drives the BioCypher equivalent via --import-script-run,",
        "# /root/reference/src/ontoweaver/ontoweave.py:441-452)",
        "set -euo pipefail",
        f"neo4j-admin database import full {database} \\",
        "  --delimiter=',' \\",
        f"  --array-delimiter='{array_delimiter}' \\",
        "  --quote='\"' \\",
    ]
    for gdir in node_groups.values():
        lines.append(f"  --nodes='{gdir}/header.csv,{gdir}/data/part-.*' \\")
    for gdir in edge_groups.values():
        lines.append(f"  --relationships='{gdir}/header.csv,{gdir}/data/part-.*' \\")
    lines.append("  --overwrite-destination")
    script = os.path.join(out_dir, "neo4j-import.sh")
    with open(script, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.chmod(script, os.stat(script).st_mode | stat.S_IXUSR | stat.S_IXGRP)

    manifest = {"nodes": node_groups, "edges": edge_groups, "script": script}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def run_import_script(out_dir: str) -> int:
    """Execute the generated ``neo4j-import.sh`` and return its exit code
    (the reference optionally RUNS the generated import script via
    ``--import-script-run``, ``/root/reference/src/ontoweaver/ontoweave.py:441-452``).

    Fails loudly when ``neo4j-admin`` is not on PATH — the caller asked for
    execution, so a silent skip would report success for an import that
    never happened; the generated script stays on disk either way."""
    import shutil
    import subprocess

    script = os.path.join(out_dir, "neo4j-import.sh")
    if not os.path.exists(script):
        raise FileNotFoundError(f"no generated import script at {script}")
    if shutil.which("neo4j-admin") is None:
        raise FileNotFoundError(
            "neo4j-admin not found on PATH; the generated script is at "
            f"{script} — run it on a host with Neo4j installed"
        )
    return subprocess.run(["bash", script]).returncode
