"""SparkSession factory with engine-appropriate defaults.

The engine is stringly-typed (the reference loads every cell as str) and
relies on permissive casts, so ANSI mode is disabled; AQE is the first line
of defense against fusion skew; Arrow is enabled for the (rare) pandas-UDF
paths. All settings are safe on a real multi-executor cluster — nothing here
assumes local mode.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

ENGINE_CONF = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold, and let AQE rewrite SMJ->SHJ at runtime when every
    # post-shuffle partition is under 64 MB: the engine's joins are
    # overwhelmingly id-keyed with bounded per-key fan-in (fusion groups,
    # graph adjacency, candidate pairs), where the sort adds nothing and
    # the hash build fits task memory. Both settings are size-gated by
    # Spark itself, so they scale: an over-threshold partition falls back
    # to sort-merge exactly as before. A hash build cannot spill, so if a
    # skewed build-side key slips past the size estimates at cluster
    # scale, turn sort-merge back on without a code change:
    # get_spark(extra_conf={"spark.sql.join.preferSortMergeJoin": "true"})
    # at start, or spark.conf.set(...) with the same key on a live session.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    # InferFiltersFromGenerate turns our explode(_edges) into a
    # size(_edges)>0 predicate that predicate-pushdown then substitutes all
    # the way to the scan — duplicating the entire extraction expression
    # (measured: a 600 KB Filter with 84 copies of the extraction regexes,
    # evaluating every row's assembly twice). The filter saves nothing for
    # this workload, so exclude the rule.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def get_spark(
    app_name: str = "ontoweaver-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif os.environ.get("SPARK_GRAFT_CPUS"):
        builder = builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    conf = dict(ENGINE_CONF)
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine conf to an externally-provided session (runtime-settable
    keys only — static keys like shuffle service are left untouched)."""
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def checkpoint(df, eager: bool = True, reset_stats: bool = True):
    """``df.localCheckpoint(eager)``, re-wrapped so the plan above it keeps
    what the checkpoint already knows about its rows.

    When the checkpointed RDD has exactly one partition, the frame reports
    ``SinglePartition``: every row sits in one task, so an aggregate, a
    window or a union of such frames above it plans no exchange (a join
    still re-shuffles both sides). That holds for any one-partition RDD,
    whatever its size. A multi-partition
    checkpoint reports ``UnknownPartitioning`` as before, so at cluster
    scale the plans above it shuffle exactly as they did.

    ``reset_stats`` drops the size estimate the checkpoint snapshots from
    its child plan (see :func:`stats_reset_checkpoint`); otherwise it is
    kept, as a plain ``localCheckpoint`` keeps it. Falls back to the plain
    checkpointed frame if the private JVM hooks are unavailable (slower,
    never wrong).
    """
    ck = df.localCheckpoint(eager=eager)
    try:
        plan = ck._jdf.logicalPlan()
        single = plan.rdd().getNumPartitions() == 1
        if not (single or reset_stats):
            return ck
        jvm = ck.sparkSession._jvm
        physical = jvm.org.apache.spark.sql.catalyst.plans.physical
        session, stats, constraints = (plan.otherCopyArgs().apply(i) for i in range(3))
        if reset_stats:
            stats = constraints = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        fresh = plan.copy(
            plan.output(), plan.rdd(),
            getattr(getattr(physical, "SinglePartition$"), "MODULE$") if single
            else physical.UnknownPartitioning(0),
            plan.outputOrdering(), plan.isStreaming(), plan.stream(),
            session, stats, constraints,
        )
        if reset_stats:
            fresh = fresh.newInstance()
        return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, fresh), ck.sparkSession)
    except (AttributeError, Py4JError):  # pragma: no cover - Connect / future-Spark fallback
        return ck


def stats_reset_checkpoint(df, eager: bool = True):
    """``localCheckpoint`` for ITERATIVE algorithms: truncate the plan AND
    reset Catalyst's size estimate (:func:`checkpoint` with ``reset_stats``).

    ``df.localCheckpoint()`` truncates lineage, but the ``LogicalRDD`` it
    leaves behind SNAPSHOTS the child plan's *estimated* statistics. Size
    estimates multiply across joins, so in a loop of the form
    ``state = f(state).localCheckpoint()`` each round's snapshot compounds
    the last: sizeInBytes grows as a power tower and its BigInteger digit
    count DOUBLES per round (measured: 38 -> 94 -> 205 -> ... digits; by
    round ~16 every Catalyst stats visit does arithmetic on million-digit
    integers and per-round wall time doubles — the loop dies at ~20
    rounds no matter how small the data is).

    The fix re-wraps the checkpointed RDD of InternalRows as a fresh scan
    with default leaf statistics — zero recompute, zero serialization,
    JVM-side only.

    ``eager=False`` is not lazy under AQE (on in :func:`get_spark`) when
    the state has several partitions: building the checkpoint already runs
    every shuffle-map stage of the plan, as a job of its own at call time
    (a ``groupBy().count()`` frame submits one); only the final stage waits
    for the first action. An aggregate or a window over one-partition
    state that reports ``SinglePartition`` plans no exchange, so such a
    round has no map stage to run early (a join still re-shuffles both
    sides up to ``spark.sql.shuffle.partitions``). ``SinglePartition`` can
    only cost parallelism when a one-partition frame is large, and AQE
    coalesces a shuffle into one partition only when the whole shuffle is
    about ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` (1 MB
    by default, with ``parallelismFirst`` on) or smaller.

    Every capped iterative loop in this repo runs through :func:`fixpoint`:
    its probe mode checkpoints each round's state through this, and steps
    that checkpoint their own loop-carried state call it directly.
    """
    return checkpoint(df, eager=eager, reset_stats=True)


class Converged(NamedTuple):
    """Returned by a :func:`fixpoint` step whose own test found the
    fixpoint (an empty frontier, nothing left to peel): the loop stops
    and ``state`` is the result."""

    state: object


def fixpoint(
    state,
    step,
    *,
    max_rounds: int,
    error: str | None,
    exact_rounds: int | None = None,
    probe=None,
    probe_start: bool = False,
    done=None,
    stats: dict | None = None,
):
    """Run ``state = step(state, i)`` for rounds ``i = 1, 2, ...`` — the one
    round policy of every capped iterative operator (recursive graph
    queries as relational fixpoints).

    - ``exact_rounds=r`` runs exactly r steps and tests nothing: the
      oracle-unroll mode, no probe job and no cap error.
    - Otherwise the loop stops when a step returns :class:`Converged` or
      the probe finds the state unchanged. After ``max_rounds`` steps it
      raises ``RuntimeError(error)``, unless ``error`` is None (the cap is
      a budget, not a failure) or ``done(state)`` accepts the last state
      (for steps that test their INPUT, the last round's output is
      otherwise never tested).
    - ``probe`` (a column of a DataFrame state): each round's state is
      checkpointed eagerly through :func:`stats_reset_checkpoint`, and
      that checkpoint's job observes the ``(count, sum(probe))`` of its
      rows (an ``Observation``, no job of its own); the pair is compared
      with the previous round's. In exact mode the checkpoint is lazy and
      nothing is observed. ``probe_start`` checkpoints and observes the
      incoming state too, so the first step may already be the fixpoint.

    ``stats["rounds"]`` receives the number of steps run.
    """

    def observed(df):
        obs = Observation()
        df = stats_reset_checkpoint(
            df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(probe).alias("sum"))
        )
        return df, (obs.get["n"], obs.get["sum"])

    exact = exact_rounds is not None
    prev = None
    if probe_start and not exact:
        state, prev = observed(state)
    converged, rounds = exact, 0  # exact mode never raises
    for rounds in range(1, (exact_rounds if exact else max_rounds) + 1):
        state = step(state, rounds)
        if isinstance(state, Converged):
            state, converged = state.state, True
            break
        if probe is not None and exact:
            state = stats_reset_checkpoint(state, eager=False)
        elif probe is not None:
            last = prev
            state, prev = observed(state)
            if prev == last:
                converged = True
                break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged and error is not None and not (done is not None and done(state)):
        raise RuntimeError(error)
    return state
