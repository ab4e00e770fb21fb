"""The one way the engine materializes an intermediate frame.

A frame read by more than one consumer (several joins, a probe plus the
row stream, every round of an iterative loop) is shared through
:func:`share` instead of being recomputed from its full lineage on every
action (anti-pattern A2, PAPER.md).  Call sites state only why their frame
is shared; what sharing means lives here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def share(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df`` with its lineage truncated, so every consumer reads one
    materialization instead of re-running the plan that built it.

    Where the blocks live follows Spark's own checkpoint setting
    (``spark.checkpoint.dir`` or ``SparkContext.setCheckpointDir``):

    * **No checkpoint dir** (the default): ``localCheckpoint``.  Lazy
      unless ``eager`` — the first action that reads the frame stores it
      and later actions reuse it, so a share costs no extra job.  Nothing
      is pinned in the cache manager: the blocks are released by the
      ContextCleaner once the frame is garbage, and a later identical
      build cannot silently read an earlier build's cache.  The blocks
      are unreplicated and live on the executor that computed them, so
      losing that executor makes the job unrecoverable.
    * **A checkpoint dir is set**: reliable ``checkpoint()`` into it, so
      the frame outlives the executor that produced it.  Always eager:
      a lazy reliable checkpoint evaluates the frame once for the action
      that triggers it and again to write the files.  Checkpoint files
      are only removed when
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=True)
