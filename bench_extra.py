"""Targeted per-query benchmark (guide §1.4): same methodology as the
frozen bench.py (same session config, best-of-N `.count()`), but over an
argv-selected subset so a single query's before/after can be measured
without paying for the whole suite. Optionally times the query through a
noop sink (every column materialized) next to the `.count()` number.

Usage:
  python bench_extra.py q1 q2 ...            # best-of-3 .count() per query
  OW_BENCH_REPEATS=5 python bench_extra.py q # more shots
  OW_BENCH_NOOP=1 python bench_extra.py q    # add noop-sink timing
  OW_BENCH_EXPLAIN=plans/r06 python bench_extra.py q  # dump explain files

Prints one JSON line: {"queries": {name: best_sec}, "noop": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("OW_BENCH_REPEATS", "3"))
NOOP = os.environ.get("OW_BENCH_NOOP", "") == "1"
EXPLAIN_DIR = os.environ.get("OW_BENCH_EXPLAIN", "")
EXPLAIN_SUFFIX = os.environ.get("OW_BENCH_EXPLAIN_SUFFIX", "")


def main() -> None:
    from bench import clear_cached
    from ontoweaver_spark.session import get_spark

    spark = get_spark(
        app_name="ontoweaver-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS * 8, 64),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "24g"},
    )
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = [n for n in sys.argv[1:] if n in qs]
    missing = [n for n in sys.argv[1:] if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)

    timings: dict[str, float] = {}
    noop_timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best = None
        for _ in range(REPEATS):
            t0 = time.time()
            counts[name] = qs[name](spark, SF_DIR).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            clear_cached(spark)
        timings[name] = round(best, 3)
        if NOOP:
            best = None
            for _ in range(REPEATS):
                t0 = time.time()
                qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
                clear_cached(spark)
            noop_timings[name] = round(best, 3)
        if EXPLAIN_DIR:
            os.makedirs(EXPLAIN_DIR, exist_ok=True)
            with open(os.path.join(EXPLAIN_DIR, f"{name}{EXPLAIN_SUFFIX}.txt"), "w") as fh:
                fh.write(qs[name](spark, SF_DIR)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        spark.sparkContext.setJobDescription(None)

    out = {"queries": timings, "counts": counts, "sf": SF_DIR, "cpus": CPUS,
           "repeats": REPEATS}
    if NOOP:
        out["noop"] = noop_timings
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
