"""Traced-run instrumentation, kept entirely on the benchmark side.

A :class:`Tracer` records one span per layer call (name, start, end,
parent) and tags every Spark job submitted inside a span with that span's
job group, so Spark's status store attributes each job's stages to exactly
one span. Spans stay in memory; counters are read from the status store
once, at the end of the run. The engine is not modified: layer boundaries
inside ``run_pipeline`` are reached by wrapping the public functions it
calls (and the parquet writer, classified by the path it writes) for the
duration of a traced job only.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql import DataFrameWriter

from ontoweaver_spark import neo4j_export, pipeline, validate

MB = 2**20
# spans around whole calls, not layers: their self time is job time that no
# layer span covers, so it is reported apart and left out of trace.coverage
CATCH_ALL = ("pipeline", "loaders.read")


class NullTracer:
    """Untraced runs: no spans, no job groups, no counters."""

    def span(self, name):
        return contextlib.nullcontext()

    def note(self, key, value):
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.notes: dict[int, dict] = defaultdict(dict)
        self.iteration = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name):
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "iteration": self.iteration, "group": f"perfbench-span-{idx}",
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                self.spans[self._stack[-1]]["group"] if self._stack else None)

    def note(self, key, value):
        self.notes[self.iteration][key] = value


# ---- layer boundaries inside run_pipeline --------------------------------------

_WRAPPED = [
    (pipeline, "compile_mapping", "compiler.plan"),
    (pipeline, "reconciliate", "fusion.plan"),
    (pipeline, "partition_metrics", "pipeline.partition_metrics"),
    (validate, "validate_input", "validate"),
    (neo4j_export, "write_neo4j_import", "neo4j_export"),
]


def _write_span(path: str) -> str | None:
    """Layer of a ``run_pipeline`` parquet write, from its on-disk layout:
    ``staging/chunk-<c>/{nodes,edges}`` (extraction), ``staging_input``
    (chunk staging) and the final ``{nodes,edges}`` (fusion)."""
    base = os.path.basename(path.rstrip("/"))
    parent = os.path.basename(os.path.dirname(path.rstrip("/")))
    if base in ("nodes", "edges"):
        return f"compiler.{base}" if parent.startswith("chunk-") else f"fusion.{base}"
    if base == "staging_input":
        return "pipeline.write"
    return None


@contextlib.contextmanager
def layer_spans(tracer: Tracer):
    """Wrap the layer entry points ``run_pipeline`` calls in spans."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in _WRAPPED]
    saved.append((DataFrameWriter, "parquet", DataFrameWriter.parquet))

    def wrap(fn, name_of):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name = name_of(*args, **kwargs)
            if name is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)
        return traced

    try:
        for mod, attr, name in _WRAPPED:
            setattr(mod, attr, wrap(getattr(mod, attr), lambda *a, _n=name, **k: _n))
        DataFrameWriter.parquet = wrap(
            DataFrameWriter.parquet, lambda self, path, *a, **k: _write_span(path))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# ---- counters from the status store ----------------------------------------------

def _status_json(spark) -> tuple[list, list]:
    """All retained jobs and stages as JSON (one JVM call each)."""
    sc, jvm = spark.sparkContext, spark._jvm
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    empty = jvm.java.util.ArrayList
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(empty())))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        empty(), False, False, sc._gateway.new_array(jvm.double, 0), empty())))
    return jobs, stages


def _task_skew(spark, stage: dict) -> float:
    """max / median task run time of one stage."""
    jvm = spark._jvm
    q = spark.sparkContext._gateway.new_array(jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    dist = spark.sparkContext._jsc.sc().statusStore().taskSummary(
        stage["stageId"], stage["attemptId"], q)
    if dist.isEmpty():
        return 1.0
    run = dist.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return top / med if med > 0 else 1.0


def _sum(stages, key, scale=1.0):
    return sum(s[key] for s in stages) / scale


def _in_layer(name: str, layer: str) -> bool:
    return name == layer or name.startswith(layer + ".")


def layer_metrics(spark, tracer: Tracer, meta: dict) -> dict[int, dict]:
    """Per traced iteration: self time and counters of every layer."""
    jobs, stages = _status_json(spark)
    stage_by_id = {s["stageId"]: s for s in stages if s["status"] == "COMPLETE"}
    group_jobs = defaultdict(list)
    for j in jobs:
        group_jobs[j["jobGroup"]].append(j)
    spans = tracer.spans

    def self_time(i):
        sp = spans[i]
        return sp["end"] - sp["start"] - sum(
            c["end"] - c["start"] for c in spans if c["parent"] == i)

    def inside(i, layer):
        while i is not None:
            if _in_layer(spans[i]["name"], layer):
                return True
            i = spans[i]["parent"]
        return False

    out = {}
    for it in sorted({sp["iteration"] for sp in spans}):
        idxs = [i for i, sp in enumerate(spans) if sp["iteration"] == it]
        self_s = {i: self_time(i) for i in idxs}

        def pick(*layers, inclusive=False):
            return [i for i in idxs if any(
                inside(i, x) if inclusive else _in_layer(spans[i]["name"], x)
                for x in layers)]

        def secs(*layers):
            return sum(self_s[i] for i in pick(*layers))

        def jobs_of(ix):
            return [j for i in ix for j in group_jobs.get(spans[i]["group"], [])]

        def stages_of(ix):
            return list({sid: stage_by_id[sid] for j in jobs_of(ix)
                         for sid in j["stageIds"] if sid in stage_by_id}.values())

        notes = tracer.notes.get(it, {})
        scans = stages_of(pick("validate", "compiler.nodes", "compiler.edges",
                               "pipeline.partition_metrics", "pipeline.write"))
        fusion_st = stages_of(pick("fusion"))
        reduce_st = [s for s in fusion_st if s["shuffleReadBytes"] > 0]
        pipe = pick("pipeline", inclusive=True)
        raw = notes.get("compiler.raw_nodes", 0) + notes.get("compiler.raw_edges", 0)
        fused = notes.get("fusion.fused_elements", 0)
        out[it] = {
            "loaders.scan_s": notes.get("loaders.scan_s", 0.0),
            "loaders.scan_rows": _sum(scans, "inputRecords"),
            "loaders.scan_mb": _sum(scans, "inputBytes", MB),
            "validate.s": secs("validate"),
            "validate.rows_invalid": notes.get("validate.rows_invalid", 0),
            "compiler.plan_s": secs("compiler.plan"),
            "compiler.nodes_s": secs("compiler.nodes"),
            "compiler.edges_s": secs("compiler.edges"),
            "compiler.raw_nodes": notes.get("compiler.raw_nodes", 0),
            "compiler.raw_edges": notes.get("compiler.raw_edges", 0),
            "compiler.gc_s": _sum(stages_of(pick("compiler")), "jvmGcTime", 1000),
            "pipeline.write_s": secs("pipeline.write"),
            "pipeline.input_scans": _sum(scans, "inputRecords") / meta["rows"],
            "pipeline.jobs": len(jobs_of(pipe)),
            "pipeline.stages": len(stages_of(pipe)),
            "pipeline.staging_mb": _sum(
                stages_of(pick("compiler.nodes", "compiler.edges", "pipeline.write")),
                "outputBytes", MB),
            "pipeline.shuffle_mb": _sum(stages_of(pipe), "shuffleWriteBytes", MB),
            "fusion.s": secs("fusion"),
            "fusion.shuffle_mb": _sum(fusion_st, "shuffleWriteBytes", MB),
            "fusion.spill_mb": _sum(fusion_st, "diskBytesSpilled", MB),
            "fusion.task_skew": _task_skew(
                spark, max(reduce_st, key=lambda s: s["executorRunTime"])) if reduce_st else 0.0,
            "fusion.dup_ratio": raw / fused if fused else 0.0,
            "neo4j_export.s": secs("neo4j_export"),
            "neo4j_export.shuffle_mb": _sum(
                stages_of(pick("neo4j_export")), "shuffleWriteBytes", MB),
            "neo4j_export.jobs": len(jobs_of(pick("neo4j_export"))),
            "graphstats.pagerank_s": secs("graphstats.pagerank"),
            "dedup.cc_s": secs("dedup.cc"),
            "dedup.cc_rounds": notes.get("dedup.cc_rounds", 0),
            "graphstats.core_s": secs("graphstats.core"),
            "graphstats.core_jobs": len(jobs_of(pick("graphstats.core"))),
            "graphstats.shuffle_mb": _sum(
                stages_of(pick("graphstats", "dedup")), "shuffleWriteBytes", MB),
            "trace.layer_s": sum(
                t for i, t in self_s.items() if spans[i]["name"] not in CATCH_ALL),
            "trace.unattributed_s": sum(
                t for i, t in self_s.items() if spans[i]["name"] in CATCH_ALL),
        }
    return out


def median_metrics(per_iter: dict[int, dict]) -> dict:
    keys = next(iter(per_iter.values())).keys()
    return {k: statistics.median(m[k] for m in per_iter.values()) for k in keys}


def unit(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_scans", "_skew", "_ratio", ".coverage")):
        return "ratio"
    return "count"
