"""Iteration utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def is_plan_leaf(df: DataFrame) -> bool:
    """True when the frame's analyzed plan is already a single leaf
    (a materialize() LogicalRDD or a plain relation scan) — callers use
    this to skip re-checkpointing an already-materialized input."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        name = plan.getClass().getSimpleName()
        return plan.children().isEmpty() and name in (
            "LogicalRDD",
            "LogicalRelation",
        )
    except Exception:
        return False


def materialize(df: DataFrame) -> DataFrame:
    """Physically truncate an iteration-state DataFrame's lineage AND
    its inherited size statistics.

    Why not plain ``localCheckpoint``: Dataset.checkpoint copies the
    parent plan's *estimated* ``sizeInBytes`` into the LogicalRDD it
    returns.  Iterative loops whose per-step plan joins the state with
    itself (assign ⋈ assign on src/dst) then square the estimate every
    step — sizeInBytes is a BigInt, its bit-length doubles per sweep,
    and after ~20 sweeps Catalyst spends minutes per query multiplying
    million-bit BigIntegers inside SizeInBytesOnlyStatsPlanVisitor
    (observed; join size estimate = product of child estimates, leaves
    start at defaultSizeInBytes = 2^63).

    Why not ``persist()+count``: un-persisting the superseded state
    cascades (CacheManager invalidates dependent entries), evicting the
    *current* state's cache and forcing full-lineage replans.

    Fix: localCheckpoint (physical truncation), then rebuild the
    DataFrame directly over the checkpointed *internal* RDD —
    zero-copy, JVM-only — which resets stats to the constant default.
    AQE picks broadcast/shuffled joins from runtime sizes, so the
    default leaf estimate costs nothing.  Durable truncation across
    restarts is the Checkpointer's job (parquet/Iceberg snapshots).

    ``.unpersist()`` on the returned frame unpersists the checkpointed
    internal RDD itself (``LogicalRDD.rdd`` — Dataset.unpersist only
    consults the CacheManager and would be a no-op on checkpoint
    blocks).  Because the checkpoint truncated lineage, freed blocks
    are NOT recomputable: callers must materialize every frame derived
    from this one before unpersisting it.

    Bonus: ``localCheckpoint(eager=True)`` is a tracked Dataset action
    (``withAction``), so ``DataFrame.observe`` metrics attached below
    this call are delivered by the materialization itself — iteration
    loops fold their convergence/stats aggregations into the
    checkpoint job instead of running a second job per step.
    """
    ck = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    try:
        jdf = ck._jdf
        # the checkpointed RDD that owns the storage blocks
        jrdd = jdf.queryExecution().analyzed().rdd()
        j2 = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(j2, spark)
    except Exception:  # non-classic sessions (connect): keep the ckpt
        return ck

    def _unpersist(blocking: bool = False) -> DataFrame:
        try:
            jrdd.unpersist(bool(blocking))
        except Exception:
            pass
        return out

    out.unpersist = _unpersist  # type: ignore[method-assign]
    return out
