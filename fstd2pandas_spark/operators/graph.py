"""Iterative graph algorithms over edge DataFrames: PageRank.

Spark-first shape (the Pregel-lite idiom): the graph lives as an edge
DataFrame, one iteration is ONE shuffle (contributions grouped by
destination), and ``localCheckpoint`` cuts the lineage each round so
ten iterations cost ten shuffles, not an exponentially re-derived plan.
The (src, dst, out-degree) build side is checkpointed once and reused
by every iteration. The driver scalars the loop needs — the node count,
the dangling count, each iteration's dangling rank mass — are
observations on the checkpoints' own jobs
(:func:`~fstd2pandas_spark.operators.iterative.checkpoint_observed`),
so no iteration runs a separate action for them.

Determinism contract (what makes an ITERATIVE float algorithm
oracle-gatable): ranks live as INTEGER units (``scale`` = 1e9 by
default), every step is integer arithmetic — ``div`` floor division
for the per-edge share and the damping ratio, integer sums that are
associative and order-free — so the result is bit-identical on any
engine, partitioning, or execution order, and an SQL oracle can unroll
the same recurrence. This is a deterministic *variant* of PageRank
(each division floors at 1e-9 resolution), not a bit-for-bit match of
any float implementation; convergence behavior is the same.

At 100 TB: the per-iteration shuffle is keyed by ``dst`` — skew on a
celebrity node is an AQE skew-join case, and the dangling aggregate is
one in-plan driver scalar per iteration (bounded by construction, the
same contract as the sketch parameter checks).

Exchange count per round — MEASURED, not asserted (plan-locked in
tests/test_plans.py): the checkpointed sides are co-partitioned (edges
by ``src``, nodes/ranks by ``node``, same explicit partition count),
and a checkpoint's ``LogicalRDD`` carries its plan's
outputPartitioning — captured at CREATION time, so the partitioning is
only known when the checkpoint was built with AQE off (an adaptive
plan's final partitioning is unresolved at capture). With AQE OFF at
build and use, the rank-update job is then exactly ONE exchange per
round (the dst-keyed contribution aggregation — both joins are
zero-shuffle against co-partitioned checkpoints; measured). With AQE
ON (this engine's default), ``EnsureRequirements`` inside
``AdaptiveSparkPlanExec`` re-shuffles the join inputs: a round costs
FOUR bounded exchanges (measured: ranks→node and ed→src for the
contribution join, the dst-keyed aggregation, nodes→node for the
update join). Per-round shuffle volume is O(E + V) either way — the
co-partitioning is a strict win where honored and one build-time
exchange where not.

Fault tolerance: ``localCheckpoint`` (the default) stores blocks on
executors WITHOUT lineage — on a real cluster, losing an executor
mid-iteration loses rank blocks unrecoverably and fails the job. For
long chains on preemptible fleets pass ``checkpoint_dir`` to use
RELIABLE checkpoints (HDFS/object-store files survive executor loss)
at the cost of one write+read of V rows per round; superseded reliable
checkpoint files are cleaned by Spark's ContextCleaner only when
``spark.cleaner.referenceTracking.cleanCheckpoints=true``, else they
persist until the directory is removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fstd2pandas_spark.operators.iterative import (
    checkpoint_observed, make_checkpointer,
    release_checkpoint as _release_checkpoint,
)


def _next_ranks(nodes: DataFrame, ed: DataFrame, ranks: DataFrame,
                teleport: int, damping_num: int, damping_den: int,
                d_share: int) -> DataFrame:
    """One PageRank round as a DataFrame (un-checkpointed): per-edge
    integer shares grouped by destination, then the damped update on
    every node. Split out so tests/test_plans.py can plan-lock the
    per-iteration exchange count against exactly the production
    plan — the module docstring's shuffle claims are MEASURED here."""
    contrib = (ed.join(ranks, ed["src"] == ranks["node"])
               .select(F.col("dst"),
                       F.expr("r div deg").alias("_sh"))
               .groupBy("dst").agg(F.sum("_sh").alias("_c")))
    # extra node columns (e.g. the static `_dang` flag) ride through so
    # per-iteration scalars can be computed from the rank snapshot
    # alone (r18) — the plan-locked exchange shape is unchanged
    extras = [c for c in nodes.columns if c != "node"]
    return (nodes.join(contrib, nodes["node"] == contrib["dst"],
                       "left")
            .select(F.col("node"),
                    (F.lit(int(teleport))
                     + F.expr(f"({int(damping_num)} * "
                              f"(coalesce(_c, CAST(0 AS BIGINT)) "
                              f"+ {int(d_share)})) "
                              f"div {int(damping_den)}"))
                    .cast("long").alias("r"),
                    *[nodes[c] for c in extras]))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 5, damping_num: int = 85,
             damping_den: int = 100, scale: int = 10 ** 9,
             checkpoint_dir: "str | None" = None) -> DataFrame:
    """Integer-unit PageRank over the DISTINCT (src, dst) edge set.

    Returns (node, r) where ``r`` is the rank in ``1/scale`` units;
    ranks start uniform at ``scale div N`` and each iteration applies

        r'[v] = (scale * (den - num)) div (den * N)
                + (num * (contrib[v] + D div N)) div den

    with ``contrib[v] = sum over in-edges (u, v) of r[u] div
    outdeg[u]`` and ``D`` the summed rank of dangling nodes (no
    out-edges), redistributed uniformly — the standard dangling-mass
    treatment, floored to integers.

    ``checkpoint_dir``: when given, per-iteration state uses RELIABLE
    checkpoints written under this directory (``sparkContext.
    setCheckpointDir`` is called with it) and survives executor loss;
    the default ``localCheckpoint`` is faster but NOT fault-tolerant —
    see the module docstring for both trade-offs.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")
    if scale < 1:
        raise ValueError("scale must be >= 1")
    spark = edges.sparkSession
    # shared with neardup_components — operators/iterative.py is the
    # ONE home of the release + reliable-checkpoint machinery
    _ckpt = make_checkpointer(spark, checkpoint_dir)

    # explicit partition count so every checkpointed side shares ONE
    # hashpartitioning (an AQE-coalesced count would differ side to
    # side and defeat the co-location; user-numbered repartition is
    # exempt from coalescing). Some platforms set the conf to a
    # non-numeric value (e.g. 'auto') — degrade to key-only
    # repartitioning there instead of failing the call; co-location
    # is an optimization, never a correctness requirement.
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nparts = None

    def _copart(df: DataFrame, key: str) -> DataFrame:
        return (df.repartition(nparts, F.col(key)) if nparts
                else df.repartition(F.col(key)))
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .distinct())
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # nodes carry a STATIC `_dang` flag (no out-edges) so the
    # per-iteration dangling mass is a filter+sum over the rank
    # snapshot alone (r18, the neardup_components convergence-check
    # fix): the former `dangling.join(ranks, "node")` re-shuffled two
    # checkpointed V-row tables per iteration (LogicalRDDs surface no
    # partitioning under AQE) just to sum a known-static subset
    # the node count and the dangling count are observed on the
    # checkpoint's own job (no count() action)
    nodes, seen = checkpoint_observed(_ckpt, _copart(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg.withColumnRenamed("src", "node"), "node", "left")
        .select("node", F.col("deg").isNull().alias("_dang")), "node"),
        n=F.count(F.lit(1)), n_dang=F.count(F.when(F.col("_dang"), 1)))
    n = seen["n"]
    if n == 0:
        return nodes.select("node").withColumn("r",
                                               F.lit(0).cast("long"))
    if scale < n:
        # scale // n == 0 would zero every rank silently from
        # iteration 1 — refuse, matching the sketch parameter contract
        raise ValueError(
            f"scale ({scale}) must be >= node count ({n}) or every "
            "integer rank floors to 0")
    # build side co-partitioned by src: the per-iteration src-side
    # join is then exchange-free wherever LogicalRDD partitioning is
    # honored (AQE off / classic planner)
    ed = _ckpt(_copart(e.join(outdeg, "src"), "src"))
    teleport = (scale * (damping_den - damping_num)) \
        // (damping_den * n)
    ranks = nodes.select("node",
                         F.lit(scale // n).cast("long").alias("r"),
                         "_dang")
    # dangling mass: ONE scalar per iteration (the redistribute-
    # uniformly constant). Uniform start ranks make the first one
    # n_dang * (scale div n); each later one is summed over the rank
    # snapshot's own `_dang` flag, observed on that snapshot's
    # checkpoint job — no join and no extra action
    d_total = seen["n_dang"] * (scale // n)
    prev = None
    try:
        for _ in range(iters):
            ranks, seen = checkpoint_observed(
                _ckpt,
                _next_ranks(nodes, ed, ranks, teleport, damping_num,
                            damping_den, d_total // n),
                d=F.sum(F.when(F.col("_dang"), F.col("r"))))
            d_total = seen["d"] or 0
            # checkpoints here are eager, so the superseded snapshot
            # can be released immediately — without this, k iterations
            # pin k full N-row rank snapshots in block-manager storage
            # until GC (reliable-checkpoint files are ContextCleaner's
            # job instead)
            if prev is not None and checkpoint_dir is None:
                _release_checkpoint(prev)
            prev = ranks
    finally:
        # the build sides (V + E rows) have no reader past the loop —
        # the returned ranks is a projection over an eager checkpoint
        # with its lineage truncated — and on a raise path nothing the
        # caller can reach references them either; release
        # deterministically instead of waiting for driver GC (the
        # neardup_components finally, mirrored — its storage test is
        # this one's twin)
        if checkpoint_dir is None:
            for df_ in (nodes, ed):
                _release_checkpoint(df_)
    return ranks.select("node", "r")
