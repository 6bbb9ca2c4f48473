"""Connected components over near-duplicate pair graphs — the last step
of dedup: pairs → clusters → one canonical survivor per cluster.

Algorithm: iterative min-label propagation.  Every node starts labeled
with itself; each round every node takes the min of its own label and
its neighbors' labels; converges in O(graph diameter) rounds.  Each
round is one join + one aggregation — all shuffles on node ids, nothing
quadratic.  Lineage is truncated per round so 20 rounds don't build a
20-deep plan — ``checkpoint="local"`` (default) or
``checkpoint="reliable"`` for executor-loss-safe durable rounds on a
cluster with a configured checkpoint dir (operators/iterate.py).

Near-dup graphs have tiny diameters (duplicate clusters are dense), so
convergence is typically 2-4 rounds; ``max_iter`` is the runaway guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ubw_spark.operators.iterate import TruncateSlot, truncate
from ubw_spark.session import pinned_conf


def _loop_partitions(spark) -> int:
    """Shuffle-partition count for the label-propagation loop.

    The per-round state (symmetrized near-dup edges + one label row per
    touched node) is orders of magnitude smaller than the corpus that
    produced the pairs, so inheriting the corpus-sized session shuffle
    count just multiplies tiny tasks; and per-round ADAPTIVE planning
    costs one driver replan + one job PER MATERIALIZED STAGE per round
    (measured round 13: ~4 stage-jobs of 10-40 ms execution each per
    round — the loop was driver-bound, not compute-bound).  Derived like
    streaming/stages.stream_shuffle_partitions: min(defaultParallelism,
    8) — pair graphs from banded dedup are ~duplicate-count-sized."""
    return max(1, min(spark.sparkContext.defaultParallelism, 8))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    *,
    checkpoint: str = "local",
) -> DataFrame:
    """Returns (node, component) where component = min node id reachable.

    ``edges`` is undirected input (each pair once is fine).

    ``checkpoint``: ``"local"`` (default, single-box posture) or
    ``"reliable"`` (durable per-round state via the context's
    checkpoint dir — the executor-loss-safe cluster posture; see
    operators/iterate.py)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # Materialize the symmetrized edge list ONCE: every round joins
        # against it, and without truncation each round would re-derive
        # the whole upstream pair-generation subtree (at scale that is
        # the full MinHash/LSH pipeline — measured as the dominant cost
        # of this operator before this checkpoint).  The edge list
        # itself is tiny relative to the corpus (near-dup pairs only).
    )
    # sym lives for the WHOLE loop (every round joins it): no slot, its
    # durable copy is reclaimed by the checkpoint dir's retention policy.
    # eager=True, and BEFORE the pinned_conf loop below: the edge-generation
    # lineage above this point is corpus-scale (at scale the full
    # MinHash/LSH pipeline), so its one materializing shuffle must run
    # under the session's normal conf (AQE on, corpus-sized shuffle
    # partitions).  A lazy truncate here would defer that shuffle into
    # round 1's first job — INSIDE the loop's pinned
    # shuffle.partitions≤8/AQE-off scope, which is sized for the tiny
    # per-round label state and would under-partition the one big
    # shuffle (spill/OOM at scale).  Costs one extra driver-blocking
    # job vs the lazy form (round-14, ADVICE r13).
    sym = truncate(sym, checkpoint, eager=True)
    _slot = TruncateSlot()  # the labels chain: round k frees round k-1
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    spark = edges.sparkSession
    # Static plan for the loop: AQE's per-stage materialization turns
    # each round's single logical pass into several driver-synchronized
    # jobs; with a known-small, fixed per-round state the static plan
    # is strictly cheaper.  Partition count and planner mode cannot
    # change aggregation values.
    with pinned_conf(spark, {
        "spark.sql.shuffle.partitions": _loop_partitions(spark),
        "spark.sql.adaptive.enabled": "false",
    }):
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, sym["a"] == labels["node"])
                .groupBy(F.col("b").alias("node2"))
                .agg(F.min("component").alias("nbr_min"))
            )
            # The convergence flag is computed IN the update projection
            # (new label < old label — labels only ever decrease), so one
            # localCheckpoint materializes labels AND flags together; the
            # convergence probe is then a cheap sum over checkpointed rows
            # instead of a second join + full subtree recompute per round.
            updated = (
                labels.join(
                    neighbor_min,
                    labels["node"] == neighbor_min["node2"],
                    "left",
                )
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")),
                    ).alias("__new"),
                    (
                        F.coalesce(F.col("nbr_min"), F.col("component"))
                        < F.col("component")
                    )
                    .cast("int")
                    .alias("__changed"),
                )
                .withColumnRenamed("__new", "component")
            )
            # eager=False folds the materialization into the convergence
            # probe: the agg below is the round's ONE job, computing and
            # persisting the labels' blocks on the way to the
            # changed-count (was two jobs per round: an eager checkpoint,
            # then the agg).
            updated = truncate(updated, checkpoint, slot=_slot, eager=False)
            changed = updated.agg(F.sum("__changed")).first()[0]
            labels = updated.drop("__changed")
            if not changed:
                break
        else:
            # Exhausting max_iter with labels still moving means the
            # returned labels are min-of-max_iter-hop neighborhoods, NOT
            # components — downstream canonical-keep would then split one
            # cluster into several "components" and let duplicates
            # survive dedup, silently.  A graph needing more rounds than
            # the guard is a loud error, not a result.
            raise ValueError(
                f"connected_components did not converge in {max_iter} "
                f"rounds ({changed} labels still changing) — the graph's "
                "diameter exceeds max_iter; raise max_iter (near-dup "
                "graphs converging this slowly usually mean the pair "
                "generator is linking non-duplicates)"
            )
    return labels


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    checkpoint: str = "local",
) -> DataFrame:
    """Resolve near-dup pairs to a keep-set: the min id of each
    component survives; rows not in any pair survive trivially.
    Returns the deduplicated df."""
    comp = connected_components(pairs, src, dst, checkpoint=checkpoint)
    drop = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def dedup_canonical_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    priority: list,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    checkpoint: str = "local",
) -> DataFrame:
    """Quality-aware keep-list: ONE row per near-dup cluster survives,
    chosen by ``priority`` order (e.g. quality score desc) with an id
    tiebreak — vs :func:`dedup_keep_list`, which keeps the min id
    regardless of quality.  Rows in no cluster survive trivially
    (their own id is their component).

    Cost: label propagation over the (small) pair graph + ONE window
    shuffle keyed by component — the unclustered bulk of the corpus
    rides through as singleton partitions keyed by its own row id, so
    no hot partition forms.

    NULL-id rows cannot appear in the pair graph (pairs reference ids),
    so they pass through untouched — they must NOT enter the window,
    where partitionBy would group every NULL key into ONE partition and
    keep a single survivor from what are unrelated rows."""
    from pyspark.sql import Window

    # dunder-rename the graph columns so they can't collide with caller
    # columns named node/component (repo convention for internals)
    comp = connected_components(
        pairs, src, dst, checkpoint=checkpoint
    ).select(
        F.col("node").alias("__node"), F.col("component").alias("__component")
    )
    keyed = df.where(F.col(id_col).isNotNull())
    null_ids = df.where(F.col(id_col).isNull())
    labeled = keyed.join(
        comp, F.col(id_col) == F.col("__node"), "left"
    ).withColumn("__comp", F.coalesce(F.col("__component"), F.col(id_col)))
    w = Window.partitionBy("__comp").orderBy(*priority, F.col(id_col))
    kept = (
        labeled.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__node", "__component", "__comp", "__rn")
    )
    return kept.unionByName(null_ids)
