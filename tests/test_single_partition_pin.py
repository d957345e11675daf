"""session.checkpoint — a checkpoint of one partition reports
``SinglePartition``.

A one-partition checkpoint (what AQE leaves of small loop state) plans no
exchange under an aggregate; a checkpoint of several partitions reports
``UnknownPartitioning`` as before. With AQE's partition coalescing off the
graph loops keep several partitions, and PageRank, connected components
and core numbers must give the same rows as on one partition.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from ontoweaver_spark import graphstats as gs
from ontoweaver_spark.dedup import connected_components
from ontoweaver_spark.session import stats_reset_checkpoint
from tests.test_fixpoint import _graph
from tests.test_r4_ops import _digits

_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _partitioning(df):
    return df._jdf.queryExecution().sparkPlan().outputPartitioning().toString()


def _exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(line.lstrip(" :+-").startswith("Exchange") for line in plan.splitlines())


def _digest(df):
    return hashlib.md5(repr(sorted(map(tuple, df.collect()))).encode()).hexdigest()[:12]


def _small(spark):
    # one shuffle of 40 rows: AQE coalesces it to one partition
    return spark.range(200).groupBy((F.col("id") % 40).alias("k")).agg(F.sum("id").alias("x"))


@pytest.mark.parametrize("pin", [stats_reset_checkpoint, gs._lazy_pin], ids=["reset", "lazy"])
def test_one_partition_pin_reports_single_partition(spark, pin):
    state = pin(_small(spark))
    assert state.rdd.getNumPartitions() == 1
    assert _partitioning(state) == "SinglePartition"

    def grouped(df):
        return df.groupBy((F.col("k") % 3).alias("g")).agg(F.sum("x").alias("x"))

    assert _exchanges(grouped(state)) == 0
    assert _digest(grouped(state)) == _digest(grouped(_small(spark)))


@pytest.mark.parametrize("pin", [stats_reset_checkpoint, gs._lazy_pin], ids=["reset", "lazy"])
def test_multi_partition_pin_reports_unknown_partitioning(spark, pin):
    state = pin(spark.range(100).repartition(4))
    assert state.rdd.getNumPartitions() == 4
    assert _partitioning(state).startswith("UnknownPartitioning")
    assert _exchanges(state.groupBy((F.col("id") % 3).alias("g")).count()) == 1


def test_each_pin_keeps_its_statistics_policy(spark):
    """stats_reset_checkpoint drops the snapshot size estimate (leaf
    default), the lazy pin keeps the plain checkpoint's, on one partition
    as on several."""
    for frame in (_small(spark), spark.range(100).repartition(4)):
        plain = frame.localCheckpoint(eager=False)
        kept = gs._lazy_pin(frame)
        size = plain._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert kept._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() == size
        assert _digits(stats_reset_checkpoint(frame)) == 19  # Long.MaxValue


_LOOPS = {
    "pagerank": gs.pagerank_fixed_point,
    "pagerank_weighted": lambda g: gs.pagerank_fixed_point(g, weight_col="weight"),
    "connected_components": lambda g: connected_components(g, a_col="src", b_col="dst"),
    "core_numbers": gs.core_numbers,
}


def test_loops_give_the_same_rows_on_many_partitions(spark):
    """Without AQE coalescing the loop state keeps the 4 shuffle
    partitions, so each round plans its exchanges; the output equals the
    one-partition run's."""
    g = _graph(spark)
    single = {name: fn(g) for name, fn in _LOOPS.items()}
    for name in ("pagerank", "core_numbers"):
        assert _partitioning(single[name]) == "SinglePartition"
    single = {name: _digest(df) for name, df in single.items()}
    coalesce = spark.conf.get(_COALESCE)
    spark.conf.set(_COALESCE, "false")
    try:
        multi = {name: fn(g) for name, fn in _LOOPS.items()}
        for name in ("pagerank", "core_numbers"):
            assert multi[name].rdd.getNumPartitions() == 4
            assert _partitioning(multi[name]).startswith("UnknownPartitioning")
        multi = {name: _digest(df) for name, df in multi.items()}
    finally:
        spark.conf.set(_COALESCE, coalesce)
    assert multi == single
