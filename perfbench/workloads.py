"""The workloads: seeded input generation (setup), the timed job,
crash-resume, the output digest of one job and its reference.

Inputs are generated by Spark's task threads and written to parquet during
setup, so every job starts with a table scan. Sizes are chosen so that a
whole run (JVM start, three set-ups, three warm-up jobs and several
measured jobs) stays under a minute on local[4].

    python3 -m perfbench.workloads <workload> <input parquet dir>

prints the reference digest of a generated input as JSON; the runner calls
it in a subprocess so DuckDB and the Python graph algorithms stay out of the
measured process.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ontoweaver_spark import dedup, graphstats, loaders, pipeline
from ontoweaver_spark.compiler import EDGE_SCHEMA, NODE_SCHEMA
from ontoweaver_spark.pages import WEB_KG_MAPPING, generate_pages

from . import reference

WEB_PAGES = 4_000
WEB_CHUNKS = 1
WEB_CHUNKS_FULL = 2  # traced runs: the chunk staging and chunk-resume path
WEB_LANGS = ["en", "es", "fr", "de"]  # generate_pages draws 8 langs, 2 of 8 are dropped
WEB_MAPPING = {**WEB_KG_MAPPING, "validate": {"lang": {"isin": WEB_LANGS}}}

GRAPH_BLOCKS = 1_500
GRAPH_MAX_BLOCK = 8
GRAPH_CORE = 4
PAGERANK_ROUNDS = 5


def _hash01(seed: int, *cols) -> F.Column:
    """Deterministic uniform draw in [0, 1) from the seed and row columns."""
    return (F.abs(F.xxhash64(F.lit(seed), *cols)) % 1_000_003) / 1_000_003.0


class Workload:
    name = ""
    # traced runs set this: the job then takes every layer it has, such as
    # chunked staging and the export writers, not only the headline path
    full = False

    def generate(self, spark: SparkSession, seed: int, path: str) -> dict:
        """Write the seeded input to ``path``; return facts the job needs."""
        raise NotImplementedError

    def reference(self, path: str) -> tuple[int, int, int]:
        raise NotImplementedError

    def job(self, spark: SparkSession, inp: str, meta: dict, out: str, tracer) -> int:
        """Run one job from ``inp`` into the fresh directory ``out``; return
        the number of triples (edges) it processed."""
        raise NotImplementedError

    def crash(self, out: str) -> None:
        """Undo the last unit of durable work of a finished job in ``out``."""
        raise NotImplementedError

    def digest(self, spark: SparkSession, out: str) -> tuple[int, int, int]:
        raise NotImplementedError


class WebPages(Workload):
    """North-star job: ``run_pipeline`` over the page table read by
    ``loaders``, with regex extraction, validation, hub-skewed property
    fusion, in one resumable chunk; with ``full`` set, in two chunks staged
    by ``url`` and followed by the Neo4j writer."""

    name = "web_pages"

    def generate(self, spark, seed, path):
        generate_pages(spark, WEB_PAGES, seed=seed, partitions=4).write.parquet(path)
        return {"rows": WEB_PAGES}

    def reference(self, path):
        return reference.web_pages_reference(path, WEB_LANGS)

    @property
    def chunks(self) -> int:
        return WEB_CHUNKS_FULL if self.full else WEB_CHUNKS

    def job(self, spark, inp, meta, out, tracer):
        with tracer.span("loaders.read"):
            df = loaders.read_table(spark, inp, fmt="parquet")
        with tracer.span("pipeline"):
            report = pipeline.run_pipeline(
                spark, df, WEB_MAPPING, os.path.join(out, "kg"), n_chunks=self.chunks,
                chunk_key="url", neo4j_out=os.path.join(out, "neo4j") if self.full else None,
            )
        with open(os.path.join(out, "kg", "_manifest.json")) as f:
            validation = json.load(f).get("validation") or {}
        tracer.note("validate.rows_invalid", validation.get("invalid", 0))
        tracer.note("compiler.raw_nodes", report.raw_nodes)
        tracer.note("compiler.raw_edges", report.raw_edges)
        tracer.note("fusion.fused_elements", report.fused_nodes + report.fused_edges)
        return report.raw_edges

    def crash(self, out):
        # the last chunk was staged but its manifest entry never landed
        path = os.path.join(out, "kg", "_manifest.json")
        with open(path) as f:
            manifest = json.load(f)
        del manifest["chunks"][str(self.chunks - 1)]
        with open(path, "w") as f:
            json.dump(manifest, f)

    def digest(self, spark, out):
        kg = os.path.join(out, "kg")
        nodes = spark.read.schema(NODE_SCHEMA).parquet(os.path.join(kg, "nodes"))
        edges = spark.read.schema(EDGE_SCHEMA).parquet(os.path.join(kg, "edges"))
        return reference.spark_digest(reference.kg_rows(nodes, edges))


class KgAnalytics(Workload):
    """Iterative graph operators (PageRank, connected components, core
    numbers) over a synthetic graph; no extraction or fusion."""

    name = "kg_analytics"
    ops = ("pagerank", "cc", "core")

    def generate(self, spark, seed, path):
        # Components of heavy-tailed size (2 .. GRAPH_MAX_BLOCK vertices), half
        # of each size cycles (diameter ~ size/2, so CC needs several star
        # rounds) and half 4-ary trees (depth <= 3). Up to three extra edges
        # per tree vertex to the first GRAPH_CORE vertices of its block make
        # small dense cores with heavy-tailed degrees, so core numbers exceed
        # 1 and the core iteration takes a few rounds. The seed only orders
        # the blocks, i.e. picks the vertex ids: each block's size, kind and
        # extra edges follow from its shape index k alone, so every seed
        # gives the same graph up to renumbering, with the same round counts
        # and job time (drawing the extra edges from the seed moved the core
        # iteration between 3 and 4 rounds from seed to seed).
        rng = random.Random(seed)
        order = list(range(GRAPH_BLOCKS))
        rng.shuffle(order)
        blocks, start = [], 0
        for b, k in enumerate(order):
            size = max(2, int(GRAPH_MAX_BLOCK ** (((k + 0.5) / GRAPH_BLOCKS) ** 3)))
            blocks.append((b, start, size, "cycle" if k % 2 else "tree", k))
            start += size
        v, s, n = F.col("v"), F.col("start"), F.col("size")
        j = v - s
        cycle = F.col("kind") == "cycle"
        u = lambda i: _hash01(0, F.col("shape"), j, F.lit(i))  # noqa: E731
        parent = (
            F.when(cycle, F.when(j == 0, s + n - 1).otherwise(v - 1))
            .otherwise(s + F.floor((j - 1) / 4))
        )
        extra = F.when(cycle, F.array().cast("array<long>")).otherwise(
            F.slice(F.array(*[(s + F.floor(u(10 + k) * F.least(n, F.lit(GRAPH_CORE)))).cast("long")
                              for k in range(3)]), 1, F.floor(u(2) * 4).cast("int")))
        nbrs = F.concat(
            F.when(cycle | (j > 0), F.array(parent.cast("long")))
            .otherwise(F.array().cast("array<long>")),
            extra)
        spark.createDataFrame(blocks, "block long, start long, size long, kind string, shape long") \
            .select("*", F.explode(F.sequence(s, s + n - 1)).alias("v")) \
            .select(v.alias("src"), F.explode(nbrs).alias("dst")) \
            .where(F.col("src") != F.col("dst")) \
            .write.parquet(path)
        return {"rows": spark.read.parquet(path).count()}

    def reference(self, path):
        return reference.kg_analytics_reference(path, PAGERANK_ROUNDS)

    def job(self, spark, inp, meta, out, tracer):
        with tracer.span("loaders.read"):
            edges = spark.read.parquet(inp)
        runs = {
            "pagerank": ("graphstats.pagerank", lambda stats: graphstats.pagerank_fixed_point(
                edges, iterations=PAGERANK_ROUNDS)),
            "cc": ("dedup.cc", lambda stats: dedup.connected_components(
                edges, a_col="src", b_col="dst", stats=stats)),
            "core": ("graphstats.core", lambda stats: graphstats.core_numbers(edges)),
        }
        for op in self.ops:
            path = os.path.join(out, op)
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                continue  # written before the crash: a restart skips it
            layer, run = runs[op]
            stats: dict = {}
            with tracer.span(layer):
                run(stats).write.parquet(path)
            if "rounds" in stats:
                tracer.note(f"{layer}_rounds", stats["rounds"])
        return meta["rows"]

    def crash(self, out):
        shutil.rmtree(os.path.join(out, self.ops[-1]))

    def digest(self, spark, out):
        pr, cc, core = (spark.read.parquet(os.path.join(out, op)) for op in self.ops)
        return reference.spark_digest(reference.analytics_rows(pr, cc, core))


WORKLOADS = {w.name: w for w in (WebPages(), KgAnalytics())}


if __name__ == "__main__":
    import duckdb

    duckdb.sql(f"SET temp_directory = '{os.environ.get('TMPDIR', '.')}'")
    print(json.dumps(WORKLOADS[sys.argv[1]].reference(sys.argv[2])))
