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

from pyspark.sql import SparkSession, functions as F

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
    # to sort-merge exactly as before.
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


def stats_reset_checkpoint(df, eager: bool = True):
    """``localCheckpoint`` for ITERATIVE algorithms: truncate the plan AND
    reset Catalyst's size estimate.

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
    JVM-side only. Falls back to the plain checkpointed frame if the
    private JVM hook is unavailable (slow at high round counts, never
    wrong).

    ``eager=False`` is not lazy under AQE (on in :func:`get_spark`):
    building the checkpoint already runs every shuffle-map stage of the
    plan, as a job of its own at call time (a ``groupBy().count()`` frame
    submits one); only the final stage waits for the first action.

    Every capped iterative loop in this repo runs through :func:`fixpoint`:
    its probe mode checkpoints each round's state through this, and steps
    that checkpoint their own loop-carried state call it directly.
    """
    from pyspark.sql import DataFrame as _DF

    ck = df.localCheckpoint(eager=eager)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        schema = jdf.queryExecution().analyzed().schema()
        fresh = spark._jsparkSession.internalCreateDataFrame(jrdd, schema, False)
        return _DF(fresh, spark)
    except Exception:  # pragma: no cover - Connect / future-Spark fallback
        return ck


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
      checkpointed through :func:`stats_reset_checkpoint` with
      ``eager=False`` (under AQE its shuffle-map stages run right there;
      its final stage runs in the probe), and the ``(count, sum(probe))``
      aggregate is compared with the previous round's. ``probe_start``
      probes the incoming state too, so the first step may already be the
      fixpoint.

    ``stats["rounds"]`` receives the number of steps run.
    """

    def measure(df):
        return tuple(df.agg(F.count("*"), F.sum(probe)).first())

    exact = exact_rounds is not None
    prev = measure(state) if probe_start and not exact else None
    converged, rounds = exact, 0  # exact mode never raises
    for rounds in range(1, (exact_rounds if exact else max_rounds) + 1):
        state = step(state, rounds)
        if isinstance(state, Converged):
            state, converged = state.state, True
            break
        if probe is not None:
            state = stats_reset_checkpoint(state, eager=False)
            if not exact:
                prev, last = measure(state), prev
                if prev == last:
                    converged = True
                    break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged and error is not None and not (done is not None and done(state)):
        raise RuntimeError(error)
    return state
