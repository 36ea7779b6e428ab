"""Lineage truncation for iterative DataFrame jobs.

Iterative ops (pagerank, label_propagation, near_dup_clusters) stack
one plan per round; without a cut, optimizer time and recovery cost
grow with round count. near_dup_clusters cuts eagerly after every
two-sweep round, and that cut is the round's only Spark action: the
fixpoint count rides on it as an observed metric. Two cut strategies,
chosen per run:

- "local": localCheckpoint — blocks stored on executors. Fastest, but
  an executor loss mid-iteration kills the job with no recovery. The
  right default for local[] mode and short jobs.
- "reliable": checkpoint() against the SparkContext checkpoint
  directory (HDFS/S3 on a real cluster) — each cut is persisted to
  reliable storage, so the job survives executor loss; costs a write
  per cut. The right mode for long multi-sweep runs at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_MODES = ("local", "reliable")


def prepare_checkpoint(
    spark: SparkSession, mode: str, checkpoint_dir: str | None
) -> None:
    """Validate the mode; for "reliable", ensure the context has a
    checkpoint directory (set it from checkpoint_dir if given)."""
    if mode not in _MODES:
        raise ValueError(f"checkpoint mode must be one of {_MODES}, got {mode!r}")
    if mode == "reliable":
        sc = spark.sparkContext
        if checkpoint_dir is not None:
            sc.setCheckpointDir(checkpoint_dir)
        elif sc.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint='reliable' needs a checkpoint directory: pass "
                "checkpoint_dir= or call spark.sparkContext.setCheckpointDir"
            )


def cut_lineage(df: DataFrame, mode: str, eager: bool = True) -> DataFrame:
    """Truncate df's lineage using the chosen strategy."""
    if mode not in _MODES:
        # a typo'd mode must not silently downgrade to localCheckpoint
        # (losing executor-failure recovery on a long cluster run)
        raise ValueError(f"checkpoint mode must be one of {_MODES}, got {mode!r}")
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
