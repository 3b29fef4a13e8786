"""The one round loop of every iterative operator.

Graph propagation, hydrology pointer doubling, EM/Lloyd/ALS rounds and
the dissolve's min-label components all iterate a DataFrame to a
fixpoint.  :func:`fixpoint` owns the two decisions such a loop makes
each round — how to checkpoint the new state and when to stop — so
that no operator writes a checkpoint into a loop body by hand
(AST-guarded by ``tests/test_surface.py``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def localcheckpoint_fresh(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that also RESETS plan statistics.

    Spark 4.x's ``LogicalRDD`` inherits the pre-checkpoint plan's
    ``sizeInBytes``, so an iterative operator whose round plan joins
    the running frame against itself k times compounds the estimate
    ~k× per round — after ~8 rounds the stat is a multi-megabit
    BigInteger and Catalyst's size estimation ooms the DRIVER heap
    (observed in the synchronous-Louvain loop: 63 → 568 → 2 582 →
    10 639 bits per round through plain localCheckpoint).  The
    checkpoint's ``LogicalRDD`` is copied with ``originStats`` dropped:
    same checkpointed InternalRow RDD, output partitioning, ordering
    and constraints, default (2⁶³−1) statistics — reading it costs
    exactly a plain checkpoint read.  A frame that already is a
    materialized local checkpoint is only re-wrapped, without a job."""
    plan = df._jdf.queryExecution().analyzed()
    if not (
        plan.getClass().getSimpleName() == "LogicalRDD"
        and plan.rdd().isCheckpointed()
    ):
        df = df.localCheckpoint()
        plan = df._jdf.queryExecution().analyzed()
    jvm = df.sparkSession._jvm
    session, _, constraints = (plan.otherCopyArgs().apply(i) for i in range(3))
    fresh = plan.copy(
        plan.output(), plan.rdd(), plan.outputPartitioning(),
        plan.outputOrdering(), plan.isStreaming(), plan.stream(),
        session, jvm.scala.Option.empty(), constraints,
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, fresh),
        df.sparkSession,
    )


def fixpoint(
    state: DataFrame | tuple,
    step: Callable,
    max_rounds: int,
    converged: Callable | None = None,
) -> DataFrame | tuple:
    """Iterate ``state = step(state, r)`` for r = 0 … max_rounds − 1.

    ``state`` is a DataFrame or a tuple of DataFrames (``None`` slots
    allowed).  Every frame of each new state is checkpointed with
    :func:`localcheckpoint_fresh`, so round lineage is cut and no
    round's plan statistics compound into the next.  A frame that
    ``step`` already checkpointed (because a later frame of the same
    round reads it) or passed through unchanged is re-wrapped without
    a job.  The loop ends early when ``step`` returns its input state
    object itself (nothing left to change) or when
    ``converged(prev, cur)`` — called on the checkpointed frames after
    every round — is true.  Callers that keep every round's frame
    (Brandes levels, power iterates) record them in ``converged``.

    Frames reused only inside one round are ``step``'s business: a
    plain ``localCheckpoint`` there is right (it never feeds the next
    round's statistics).
    """
    for r in range(max_rounds):
        nxt = step(state, r)
        if nxt is state:
            break
        if isinstance(nxt, DataFrame):
            nxt = localcheckpoint_fresh(nxt)
        else:
            nxt = tuple(
                None if f is None else localcheckpoint_fresh(f) for f in nxt
            )
        prev, state = state, nxt
        if converged is not None and converged(prev, state):
            break
    return state
