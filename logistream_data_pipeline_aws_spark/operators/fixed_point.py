"""One loop driver for the eager fixed-point operators.

``connected_components``, ``graph_kcore`` / ``graph_kcore_converged`` and
``supplier_pagerank_converged`` all run the same loop: apply a step to a
state frame, cut the lineage now and then, free the blocks of the cut the
new one replaces, and ask the driver whether to stop.  ``iterate`` is that
loop, and this module is the only code that cuts lineage and frees blocks
inside one.  Connected components and k-core run on it only above their
driver gates: smaller graphs are collected and iterated in driver memory
(a union-find, and numpy h-index rounds under
``plans.extensions._KCORE_DRIVER_MAX_EDGES``).

Why every period ends in an EAGER cut: without it the state frame's plan
nests one level per round (or doubles, when a step references its input
twice) and driver-side analysis cost grows with it until the driver runs
out of memory — the classic iterative-algorithm failure mode on Spark.
The cut is a reliable ``checkpoint`` when the context has a checkpoint dir
(fault-tolerant, cluster use), else ``localCheckpoint`` (single-node / test
use).

Why blocks are freed at the RDD level: ``DataFrame.unpersist`` on a
localCheckpoint-ed frame only clears CacheManager entries and never
touches the checkpointed RDD's blocks, so without an id-level release a
long run holds one cut's blocks per period until JVM GC and the
ContextCleaner notice.  The release is scoped to the cut's OWN RDD ids,
never a global diff of the persistent RDDs, which would also sweep up RDDs
a concurrent job persisted meanwhile (a streaming micro-batch, a parallel
query thread) — force-unpersisting a stranger's lineage-truncated
localCheckpoint is unrecoverable for that job.  A reliable checkpoint
persists no RDD, so its id set is empty; set
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` on a cluster so
released checkpoint FILES are reaped too.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD currently holding storage blocks (JVM-side truth —
    the Python CacheManager view does NOT include the internal RDD a
    localCheckpoint materializes)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}
    except Exception:  # connect mode / no JVM gateway: degrade to
        return set()   # reference-drop + ContextCleaner release


def _own_checkpoint_rdd_ids(df: DataFrame) -> set[int]:
    """The RDD ids belonging to THIS checkpointed frame and nothing else.

    A checkpointed Dataset's analyzed plan is a single ``LogicalRDD`` node
    wrapping the lineage-cut RDD; that rdd plus its internal checkpointRDD
    (via ``RDDCheckpointData`` — ``private[spark]`` compiles to public
    bytecode, so py4j can call it) are the only RDDs the cut can have
    persisted."""
    ids: set[int] = set()
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getSimpleName() == "LogicalRDD":
            r = node.rdd()
            ids.add(int(r.id()))
            cpd = r.checkpointData()
            if cpd.isDefined():
                opt = cpd.get().checkpointRDD()
                if opt.isDefined():
                    ids.add(int(opt.get().id()))
    except Exception:
        pass  # connect mode / plan shape change: release nothing (safe)
    return ids


def _release_rdds(spark, ids: set[int]) -> None:
    """Unpersist exactly the RDDs ``ids`` names, JVM-side."""
    if not ids:
        return
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for e in jmap.entrySet().toArray():
            if int(e.getKey()) in ids:
                e.getValue().unpersist(False)
    except Exception:
        pass  # best-effort: blocks then die with GC as before


def _cut(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eagerly cut ``df``'s lineage; returns the cut frame and the ids of
    the persistent RDDs it owns."""
    spark = df.sparkSession
    if spark.sparkContext.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    return out, _own_checkpoint_rdd_ids(out) & _persistent_rdd_ids(spark)


def release(cut: DataFrame) -> None:
    """Free the blocks of a cut ``iterate`` returned, for a caller that
    drops its result (the frame must not be read afterwards)."""
    _release_rdds(cut.sparkSession, _own_checkpoint_rdd_ids(cut))


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    *,
    done: Callable[[DataFrame, DataFrame], bool] | None = None,
    checkpoint_every: int = 1,
) -> tuple[DataFrame, bool]:
    """Apply ``step`` to ``state`` up to ``max_rounds`` times.

    Every ``checkpoint_every`` rounds, and after the last round, the
    state is cut (see the module docstring).  At each cut
    ``done(prev, cur)`` is asked whether to stop, where ``prev`` is the
    state at the previous cut (the initial state for the first), and
    only then are the blocks of the cut ``cur`` replaces freed.  Returns
    ``(state, converged)``: the last state, which is a cut whose blocks
    the caller now owns (``release`` frees them), and whether ``done``
    stopped the loop — False when ``max_rounds`` ran out or there is no
    ``done``.  An exception frees every live cut before it propagates.
    The cadence is physical only: values are identical at any
    ``checkpoint_every``.
    """
    if checkpoint_every < 1:
        # 0 would divide by zero on the cadence; a negative value would
        # never match it and silently disable the cut
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    spark = state.sparkSession
    prev = state
    held: set[int] = set()  # RDD ids of the live cuts
    try:
        for rnd in range(max_rounds):
            state = step(state)
            if (rnd + 1) % checkpoint_every and rnd < max_rounds - 1:
                continue
            state, ids = _cut(state)
            replaced, held = held, held | ids
            stop = done is not None and done(prev, state)
            _release_rdds(spark, replaced)
            held, prev = ids, state
            if stop:
                return state, True
        return state, False
    except BaseException:
        _release_rdds(spark, held)
        raise
