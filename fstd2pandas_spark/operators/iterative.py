"""Shared checkpoint machinery for iterative DataFrame algorithms.

Every iterative operator in this engine (PageRank in
:mod:`~fstd2pandas_spark.operators.graph`, label propagation in
:mod:`~fstd2pandas_spark.operators.llm.cluster`) has the same three
needs, so they live here ONCE — a fix to any of them can never silently
miss one of the loops (the ``_salted_topk`` precedent):

1. **Superseded-snapshot release** (:func:`release_checkpoint`): a
   per-round eager ``localCheckpoint`` truncates lineage, but without
   an explicit release k rounds pin k full state snapshots in
   block-manager storage until context GC — on a 100 TB corpus that is
   k × V rows of executor memory for state that can never be read
   again.
2. **Reliable-checkpoint option** (:func:`make_checkpointer`):
   ``localCheckpoint`` stores blocks on executors WITHOUT lineage — on
   a real cluster, losing one executor mid-iteration loses blocks
   unrecoverably and fails the job. Long chains on preemptible fleets
   pass a ``checkpoint_dir`` and get RELIABLE checkpoints
   (HDFS/object-store files survive executor loss) at the cost of one
   write+read of the state per round; superseded reliable files are
   ContextCleaner's job (``spark.cleaner.referenceTracking.
   cleanCheckpoints=true``), not ours.
3. **In-plan loop scalars** (:func:`checkpoint_observed`): each round
   needs a few driver-side numbers about the state it just built (the
   labels that changed, the node count, the dangling rank mass). A
   ``DataFrame.observe`` on the frame being checkpointed computes them
   in the checkpoint's own job, so no round pays a separate
   ``count()``/``first()`` action that re-reads the snapshot.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession

_log = logging.getLogger(__name__)
_release_warned = False


def release_checkpoint(df: DataFrame) -> None:
    """Free a superseded localCheckpoint's storage. PySpark exposes no
    public unpersist for local checkpoints — ``df.rdd.unpersist()``
    derives a NEW rdd and frees nothing (verified empirically against
    ``getPersistentRDDs``) — but a checkpointed frame's analyzed plan
    is a ``LogicalRDD`` holding the cached rdd directly. Best-effort
    by design (internal API): a failure costs memory, never
    correctness — but it must not fail SILENTLY, or a Spark-internal
    change would quietly reinstate the k-pinned-snapshot growth this
    exists to prevent; log once per process on the first failure."""
    global _release_warned
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        if not _release_warned:
            _release_warned = True
            _log.warning(
                "iterative: releasing a superseded localCheckpoint "
                "failed (%s: %s) — superseded state snapshots will "
                "stay in block-manager storage until context GC; the "
                "internal LogicalRDD access path likely changed in "
                "this Spark version", type(exc).__name__, exc)


def make_checkpointer(spark: SparkSession,
                      checkpoint_dir: "str | None",
                      ) -> "Callable[[DataFrame], DataFrame]":
    """The per-round lineage cut for an iterative loop: eager
    ``localCheckpoint`` by default, RELIABLE ``checkpoint`` under
    ``checkpoint_dir`` when given (``sparkContext.setCheckpointDir``
    is called with it) — see the module docstring for the trade-off.
    Results are bit-identical either way; only fault tolerance and
    cost differ."""
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)
    return _ckpt


def checkpoint_observed(ckpt: "Callable[[DataFrame], DataFrame]",
                        df: DataFrame, **metrics: Column,
                        ) -> "tuple[DataFrame, dict]":
    """``ckpt(df)`` plus the named aggregate ``metrics`` over ``df``'s
    rows, read off the checkpoint's own job (``DataFrame.observe``): no
    extra action runs. ``ckpt`` must be eager (every
    :func:`make_checkpointer` result is), so the metrics are final when
    this returns; the snapshot's plan is the bare checkpoint, so later
    reads of it never re-count."""
    obs = Observation()
    snap = ckpt(df.observe(
        obs, *[col.alias(name) for name, col in metrics.items()]))
    return snap, obs.get
