"""Connected components over near-duplicate pair graphs.

The step after candidate-pair generation in a dedup pipeline: group the
pairs into duplicate clusters and elect one canonical document per
cluster (the min id). Iterative min-label propagation — each round every
node takes the minimum label in its closed neighbourhood — converges in
O(graph diameter) rounds; near-dup graphs are near-cliques per
duplicate family, so 2-3 rounds typically suffice.

Spark shape (Pregel-style, one shuffle per round):

- **Build.** The pairs are symmetrized and ONE ``groupBy(node)`` folds
  each node's sorted, distinct neighbour list together with round 1's
  label, ``least(node, min(neighbours))``. That state is checkpointed
  once, so the pair plan upstream runs once.
- **Each later round** (:func:`_propagate`). Every node sends its label
  to each neighbour (``explode``) and keeps its own row (label and
  neighbour list); one ``groupBy(node)`` takes the min label and
  carries the list and the previous label along. That is one hash
  exchange and no join (plan-locked in tests/test_plans.py).
- **Convergence.** The changed-label count is an observation on the
  round's eager checkpoint, so it costs no job of its own: a round is
  the checkpoint's jobs only (two under AQE, the map stage and the
  result stage).

The checkpoint machinery — the per-round lineage cut, superseded-
snapshot release so k rounds never pin k state snapshots, the in-plan
changed count, and the ``checkpoint_dir`` RELIABLE option for
preemptible fleets — is the shared
:mod:`~fstd2pandas_spark.operators.iterative` home, one definition with
PageRank so a hardening fix can never miss one of the two loops.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

from fstd2pandas_spark.operators.iterative import (
    checkpoint_observed, make_checkpointer, release_checkpoint,
)


class ConvergenceError(RuntimeError):
    """Label propagation needed more rounds than the caller allowed."""


def _build(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Round 1 as the propagation state (node, _nbrs, component,
    _prev): one row per node, including the NULL endpoint if any pair
    has one. That row's label stays NULL (``least`` skips NULLs, so the
    NULL node must not see its neighbours' min); no neighbour list
    holds it (``collect_set`` skips NULLs) and every ``min`` skips the
    NULL label it sends, so it never joins a component."""
    fwd = pairs.select(F.col(id_a).alias("node"), F.col(id_b).alias("_nbr"))
    sym = fwd.unionByName(
        fwd.select(F.col("_nbr").alias("node"), F.col("node").alias("_nbr")))
    # collect_set bound: the node's degree — the symmetrized pair table
    # already holds those rows, so the list adds no row the input lacks
    return (
        sym.groupBy("node")
        .agg(F.sort_array(F.collect_set("_nbr")).alias("_nbrs"),
             F.min("_nbr").alias("_nmin"))
        .select("node", "_nbrs",
                F.least(F.col("node"),
                        F.when(F.col("node").isNotNull(), F.col("_nmin")))
                .alias("component"),
                F.col("node").alias("_prev"))
    )


def _propagate(state: DataFrame) -> DataFrame:
    """One round over a checkpointed state (node, _nbrs, component,
    _prev), same columns out: every node messages its label to each
    neighbour and keeps its own row, one ``groupBy(node)`` takes the
    min. Split out so tests/test_plans.py can plan-lock the
    round's exchange count against exactly the production plan."""
    comp = F.col("component")
    sent = state.select(F.explode("_nbrs").alias("node"),
                        comp.alias("_m"))
    kept = state.select("node", comp.alias("_m"), "_nbrs",
                        comp.alias("_own"))
    return (
        kept.unionByName(sent, allowMissingColumns=True)
        .groupBy("node")
        .agg(F.flatten(F.collect_list("_nbrs")).alias("_nbrs"),
             F.min("_m").alias("component"),
             F.min("_own").alias("_prev"))
    )


def neardup_components(pairs: DataFrame, id_a: str = "doc_a",
                       id_b: str = "doc_b", max_iter: int = 20,
                       require_convergence_within: "int | None" = None,
                       checkpoint_dir: "str | None" = None,
                       ) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = min
    node id reachable through the pair graph. ``max_iter`` (>= 1)
    bounds the rounds (diameter guard); iteration stops early at the
    first round that changes no label.

    ``require_convergence_within=N`` raises :class:`ConvergenceError` if
    labels are still changing after N rounds — used by callers whose
    expected output is pinned to an N-round unroll (the gated oracle),
    so a graph-shape change fails loudly instead of silently diverging
    from the pinned expectation.

    ``checkpoint_dir``: per-round state uses RELIABLE checkpoints under
    this directory (survives executor loss — the preemptible-fleet
    mode); the default eager ``localCheckpoint`` is faster but not
    fault-tolerant. Each round's superseded local snapshot is RELEASED
    as soon as the next one is built, so a k-round propagation holds at
    most two state snapshots in block-manager storage, never k (shared
    machinery: operators/iterative.py). The returned frame is a
    projection over the last snapshot, which also holds the neighbour
    lists (one entry per symmetrized pair) until the caller drops it."""
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    _ckpt = make_checkpointer(pairs.sparkSession, checkpoint_dir)
    changed = F.count(F.when(F.col("component") != F.col("_prev"), 1))
    snap = None
    changing_rounds = 0
    converged = False
    try:
        for _ in range(max_iter):
            nxt, seen = checkpoint_observed(
                _ckpt,
                _build(pairs, id_a, id_b) if snap is None
                else _propagate(snap),
                changed=changed)
            prev_snap, snap = snap, nxt
            # checkpoints are eager, so the previous round's snapshot
            # has no reader left — release it now so k rounds never pin
            # k state snapshots; reliable-checkpoint files are
            # ContextCleaner's job instead
            if checkpoint_dir is None and prev_snap is not None:
                release_checkpoint(prev_snap)
            if seen["changed"] == 0:
                converged = True
                break
            changing_rounds += 1
            if (require_convergence_within is not None
                    and changing_rounds > require_convergence_within):
                raise ConvergenceError(
                    f"label propagation still changing after "
                    f"{require_convergence_within} rounds; the pair "
                    "graph's diameter exceeds the caller's pinned unroll")
        else:
            # the for-loop exhausted max_iter while labels were STILL
            # changing — a guard set at >= max_iter must fail loudly
            # too, not hand back unconverged labels
            if require_convergence_within is not None:
                raise ConvergenceError(
                    f"label propagation did not converge within "
                    f"max_iter={max_iter} rounds (convergence guard "
                    f"{require_convergence_within} requested)")
            # no guard: the documented max_iter bound applies, but the
            # labels are UNCONVERGED — two members of one duplicate
            # cluster may carry different canonical ids. Say so: a
            # silent partial merge reads exactly like a converged one
            _log.warning(
                "neardup_components: labels still changing after "
                "max_iter=%d rounds — returning PARTIALLY merged "
                "components (a chain-shaped pair graph deeper than "
                "max_iter); raise max_iter or pass "
                "require_convergence_within to fail loudly instead",
                max_iter)
            converged = True  # keep the returned snapshot un-released
    finally:
        # the raise paths must not leak storage either: on failure the
        # last snapshot is unreachable to the caller — a retried call
        # would otherwise pin graph-scale state per attempt
        if checkpoint_dir is None and not converged and snap is not None:
            release_checkpoint(snap)
    # min() types the label nullable; coalescing with the node gives it
    # back the id column's nullability (only the NULL node has a NULL
    # label, and coalesce keeps that NULL)
    return snap.select("node",
                       F.coalesce(F.col("component"), F.col("node"))
                       .alias("component"))


def canonical_docs(pairs: DataFrame, docs: DataFrame,
                   id_col: str = "doc_id", id_a: str = "doc_a",
                   id_b: str = "doc_b") -> DataFrame:
    """Dedup policy applied: every doc keeps its cluster's canonical
    (min) id; docs in no pair are their own canonical."""
    comp = neardup_components(pairs, id_a, id_b)
    return (
        docs.hint("merge").join(comp, docs[id_col] == comp.node, "left")
        .select(
            docs["*"],
            F.coalesce(F.col("component"), docs[id_col]).alias("canonical_id"),
        )
    )
