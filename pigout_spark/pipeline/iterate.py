"""The package's one checkpoint, its one broadcast decision, and one
driver for the iterative loops of the pipeline operators.

Every checkpoint the package takes goes through :func:`checkpoint`, so
one function decides its storage level, its size estimate and the
partitioning it declares.  Every broadcast decided on a measured size
goes through :func:`decide`, against Spark's own
``spark.sql.autoBroadcastJoinThreshold``; :func:`sized_checkpoint`
measures a relation the query stores anyway, and :func:`counted_bytes`
one it does not.  The gates: the default join's sized input
(``operators/joins.py``), the DSIR weight table
(``pipeline/curation.py``), and the edge list of
``pipeline/dedup.py:dedup_clusters``, which collects no more of its
rows than one past the threshold, at :func:`row_width` bytes a row, and
solves a graph that fits on the driver instead of running its loop.

:func:`fixpoint` runs a step function over a state of one DataFrame or a
tuple of them.  It owns what every loop used to write out by hand: the
round limit, the checkpoint cadence, the convergence probe and its loud
failure, a job description per round, and one DEBUG line on this
module's logger giving the rounds run.  It starts no Spark action of
its own.  Checkpoints are ``eager=False``, though under adaptive query
execution taking one already runs the shuffle stages of the plan it
cuts; the probe is the caller's.

Checkpoint cadence (``every``) per call site, measured at sf0.1 with
interleaved A/B runs.  A checkpoint truncates the plan, and the next
action pays for everything since the last one:

==================  =====  ==============================================
loop                every  why
==================  =====  ==============================================
pagerank            4      no per-round action; a per-round checkpoint
                           made a 3-round run ~3× slower, while 4 keeps
                           long runs at constant plan depth
bfs_distances       4      no per-round action, and the repeated subtrees
                           of a round get ReusedExchange at run time:
                           2.03 s at 4 vs 2.66 s at 1
shortest_paths      4      as bfs_distances: 3.23 s at 4 vs 3.76 s at 1
k_core              1      the probe is a per-round action that re-runs
                           every round since the last checkpoint: 1.79 s
                           at 1 vs 2.72 s at 4
label_propagation   1      per-round truncation beats planning a
                           rounds-deep plan: 2.44 s at 1 vs 2.85 s at 4
hits                1      each round's L1 rescale broadcasts a total of
                           the current scores, which re-runs the score
                           lineage since the last checkpoint: best
                           10.4 s at 1 vs 13.3 s at 4 (2 rounds)
dedup_clusters      1      the probe is the first action on each round's
                           checkpoint: one job materializes both
==================  =====  ==============================================
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from typing import Callable, Iterator

from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

log = logging.getLogger(__name__)

#: one DataFrame, or a tuple of them
State = DataFrame | tuple


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df`` cut from its lineage: a DISK_ONLY local checkpoint, lazy
    unless ``eager``, that keeps the hash partitioning ``df``'s plan
    produced, and drops the optimizer size estimate of a plan with a
    join.  An eager checkpoint computes and stores every partition
    before it returns, in one job.

    DISK_ONLY: a checkpoint block is the only copy of its data, so the
    block manager can never evict it, and memory-first checkpoints of a
    130 M-edge list plus one state per round starved execution memory
    (SparkOutOfMemoryError UNABLE_TO_ACQUIRE_MEMORY).

    Size estimate: a checkpoint keeps the estimate of the plan it cuts,
    and a join's estimate is the product of its inputs'.  A loop that
    joins its state with itself therefore squares the estimate every
    round: its digit count doubles, and the driver's big-integer
    arithmetic on it took 0.4 s per round at round 15 and 70 s at round
    23 of a 64-node chain.  So a plan with a join loses its estimate and
    Spark assumes its default size.  A plan without one keeps it: its
    estimate is bounded by its inputs', and dropping it turned broadcast
    joins against small checkpoints into shuffle joins (hits 41 → 49
    Spark jobs at sf0.1).  The checkpoint's constraints stay: without
    them Catalyst re-infers ``isnotnull`` filters on join keys, two
    scans of one state stop sharing an exchange, and label_propagation
    ran one more job per round.

    Partitioning: under adaptive query execution the plan Spark hands
    the checkpoint is an ``AdaptiveSparkPlanExec``, which declares no
    partitioning, so a join on the key ``df`` was just shuffled on would
    shuffle the checkpoint again.  Taking the checkpoint has already
    finalized that plan, so its final physical plan is read (no job)
    and its ``outputPartitioning`` declared when it is exactly a
    ``HashPartitioning`` over as many partitions as the checkpoint's
    RDD has.  Only then is partition ``i`` of the RDD known to hold
    exactly the rows whose key hashes to ``i``; a coalesced hash
    partitioning (adaptive execution merged neighbouring buckets) or a
    count that disagrees with the RDD would let a join skip an exchange
    it needs, so anything else stays ``UnknownPartitioning``.  The cost:
    Spark canonicalizes a declared partitioning with its attribute ids,
    so two self-join copies of one such checkpoint no longer compare
    equal, and exchanges above them are not reused."""
    cut = df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)
    rel = cut._jdf.queryExecution().logical()  # a LogicalRDD
    session, estimate, constraints = (rel.otherCopyArgs().apply(i) for i in range(3))
    # output, rdd, outputPartitioning, outputOrdering, isStreaming, stream
    fields = [rel.productElement(i) for i in range(rel.productArity())]
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    part = plan.outputPartitioning()
    if (
        part.getClass().getSimpleName() == "HashPartitioning"
        and part.numPartitions() == fields[1].getNumPartitions()
    ):
        fields[2] = part
    client = cut.sparkSession.sparkContext._gateway._gateway_client
    if has_join(df):
        estimate = JavaClass("scala.Option", client).empty()
    rel = rel.copy(*fields, session, estimate, constraints)
    dataset = JavaClass("org.apache.spark.sql.classic.Dataset", client)
    return DataFrame(dataset.ofRows(session, rel), cut.sparkSession)


@contextmanager
def job_description(sc: SparkContext, label: str) -> Iterator[None]:
    """Run the block's Spark jobs under the job description ``label``
    and restore the caller's description on exit, also on raise."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def sized_checkpoint(df: DataFrame, label: str) -> tuple[DataFrame, int]:
    """An eager :func:`checkpoint` of ``df``, taken in one job under the
    job description ``label``, and the bytes its blocks hold on disk:
    the measure of a relation the query stores anyway.

    The bytes are read from the block manager master, which every
    executor tells of a block before the task that wrote it ends, so
    they are complete when the job returns, and reading them starts no
    job.  ``SparkContext.getRDDStorageInfo`` is not used: it reads the
    status store, which a listener fills after the job has ended."""
    sc = df.sparkSession.sparkContext
    with job_description(sc, label):
        cut = checkpoint(df, eager=True)
    rdd_id = cut._jdf.queryExecution().logical().rdd().id()
    master = sc._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    return cut, sum(s.diskUsedByRdd(rdd_id) for s in master.getStorageStatus())


def counted_bytes(df: DataFrame, threshold: int, label: str) -> int:
    """Spark's size of ``df`` with its rows counted, under the job
    description ``label``: the measure of a relation the query does not
    store.  The bytes are the row count times :func:`row_width`.

    The count stops one row past ``threshold`` bytes: it is a ``LIMIT``
    collected the way Spark collects one, a partition first and then
    more until it has enough rows, so a relation far larger than the
    threshold costs the few partitions that yield that many rows, not a
    pass over it.  It reads only the columns ``df``'s filters and join
    keys need, writes and keeps nothing, and brings at most that many
    rows of one constant to the driver: no more rows than the broadcast
    it decides on would hold."""
    width = row_width(df)
    probe = df.select(F.lit(1)).limit(threshold // width + 1)
    with job_description(df.sparkSession.sparkContext, label):
        return len(probe._jdf.collect()) * width


def row_width(df: DataFrame) -> int:
    """Spark's own size of one of ``df``'s rows without column
    statistics (``EstimationUtils.getSizePerRow``): 8 bytes plus each
    column's default size."""
    return 8 + df._jdf.schema().defaultSize()


def has_join(df: DataFrame) -> bool:
    """``df``'s optimized plan holds a join."""
    client = df.sparkSession.sparkContext._gateway._gateway_client
    join = JavaClass("org.apache.spark.sql.catalyst.trees.TreePattern", client).JOIN()
    return df._jdf.queryExecution().optimizedPlan().containsPattern(join)


def broadcast_threshold(spark: SparkSession) -> int | None:
    """Spark's ``spark.sql.autoBroadcastJoinThreshold`` in bytes, or
    None when it is at or below 0 and Spark broadcasts no relation by
    its size."""
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return threshold if threshold > 0 else None


def decide(name: str, measured: int, threshold: int | None) -> bool:
    """The package's one broadcast rule: broadcast a relation whose
    ``measured`` bytes are at most ``threshold`` (from
    :func:`broadcast_threshold`), and none when it is None.  Logs the
    gate's ``name``, both numbers and the branch taken at DEBUG."""
    small = threshold is not None and measured <= threshold
    log.debug(
        "%s: %d bytes, threshold %s: %s",
        name, measured, threshold, "broadcast" if small else "no broadcast",
    )
    return small


def fixpoint(
    label: str,
    state: State,
    step: Callable[[State], State],
    *,
    rounds: int,
    every: int = 1,
    converged: Callable[[State], bool] | None = None,
) -> State:
    """Apply ``step`` to ``state`` round by round and return the state.

    Every ``every`` rounds each DataFrame of the state is replaced by
    its :func:`checkpoint`.  Without ``converged`` the loop runs exactly
    ``rounds`` rounds.  With it, ``converged(state)`` is probed before
    each round, on the state just checkpointed, and the loop stops as
    soon as it holds; if it still fails after ``rounds`` rounds the
    loop raises ``RuntimeError`` rather than return a half-done state.

    Each round's jobs run under the job description ``"<label> round
    k"``; the initial probe runs under round 0.  The caller's
    description is restored on return and on raise."""
    many = isinstance(state, tuple)
    sc = (state[0] if many else state).sparkSession.sparkContext
    done = 0
    with job_description(sc, f"{label} round 0"):
        while converged is None or not converged(state):
            if done >= rounds:
                if converged is None:
                    break
                raise RuntimeError(
                    f"{label} did not converge in {done} rounds"
                )
            done += 1
            sc.setJobDescription(f"{label} round {done}")
            state = step(state)
            if done % every == 0:
                state = tuple(map(checkpoint, state)) if many else checkpoint(state)
        log.debug("%s ran %d rounds", label, done)
        return state
