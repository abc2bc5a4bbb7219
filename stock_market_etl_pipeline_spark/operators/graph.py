"""Connected components for dedup-cluster resolution.

Near-dup detection emits PAIRS; a real dedup pass must then group pairs
into clusters (A~B, B~C ⇒ {A,B,C}) and keep one survivor per cluster.
That grouping is connected components — iterative, so it cannot be one
SQL query at scale; the distributed formulation here is min-label
propagation (each node repeatedly adopts the smallest label among itself
and its neighbors), which converges in O(component diameter) rounds.
Dedup graphs are near-cliques (diameter ≤ ~3), so a handful of rounds
suffices; ``max_iter`` bounds the worst case.

Scale notes: every round is one join + one aggregate on the edge list
(shuffle on node id); ``localCheckpoint`` truncates the plan lineage each
round so the job graph stays flat instead of growing exponentially. Each
row carries its previous label as ``old_label``, so the convergence probe
is a ``label != old_label`` flag filter plus one ``count()`` per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 15,
) -> DataFrame:
    """(node, cluster_id) for every node in `edges`; cluster_id = the
    smallest node id reachable through the undirected edge set."""
    # Both directions via ONE explode pass: the union formulation
    # (select(u,v) UNION select(v,u)) evaluates the caller's edge lineage
    # TWICE — for semantic_dedup that lineage is the full within-cluster
    # pair expansion with a cosine per pair (§2.4 duplicated subtree,
    # measured r13: the double-eval was most of the CC leg's cost).
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("__e")
    ).select("__e.u", "__e.v")
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    done = True
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        # old_label rides along so convergence is a flag FILTER over the
        # round's own output instead of a join back against the previous
        # labels table (one fewer join per round, and the convergence
        # action doubles as the checkpoint materializer below).
        prop = (
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jumping (path compression): label ← label's label.
        # Plain min-propagation converges in O(component diameter)
        # rounds — a long near-dup CHAIN at sf1 blew the 15-round cap
        # (r11 sweep). Composing the label map with itself each round
        # halves every pointer chain, so convergence is O(log diameter)
        # (~2^15 diameter headroom at max_iter=15). Labels only ever
        # hold node ids (mins of node ids), so the inner self-join is
        # total; the invariant 'label = a reachable node id ≤ node'
        # is preserved by both steps, and the fixpoint is unchanged:
        # the component minimum.
        new_labels = (
            prop.alias("a")
            .join(
                prop.select(
                    F.col("node").alias("pnode"),
                    F.col("label").alias("plabel"),
                ),
                F.col("a.label") == F.col("pnode"),
            )
            .select(
                F.col("a.node").alias("node"),
                F.col("a.old_label").alias("old_label"),
                F.least(F.col("a.label"), F.col("plabel")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE action per round: count() answers the convergence question
        # and, since it computes every partition, completes the lazy
        # checkpoint in the same job. isEmpty/take(1) may stop after a few
        # partitions; doCheckpoint would then launch a second job for the
        # missing ones (it never leaves the checkpoint partial). The old
        # shape paid two blocking jobs per round (eager checkpoint, then a
        # changed-rows join + isEmpty).
        # Same fixpoint: label != old_label is exactly the old
        # new-vs-previous label comparison, carried as a column.
        done = (
            new_labels.filter(F.col("label") != F.col("old_label")).count()
            == 0
        )
        labels = new_labels.select("node", "label")
        if done:
            break
    if not done:
        # labels still changed on the final iteration: cluster ids may be
        # unconverged (component diameter > max_iter) — silently returning
        # them would be wrong data, not slow data
        raise RuntimeError(
            f"connected_components: labels still changing after {max_iter} "
            "iterations (component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def pagerank(
    edges: DataFrame,
    src: str = "part_a",
    dst: str = "part_b",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """PageRank by fixed-iteration power method over the symmetrized
    edge set — the canonical iterative algorithm Spark expresses as a
    driver loop of joins, not as one query (the same reason
    connected_components above iterates).

    Per round: ranks join the degree-normalized edge list (built ONCE,
    localCheckpoint'd), incoming mass aggregates per target, and
    ``rank' = (1−d)/n + d·Σ in``. The symmetrized graph has no dangling
    nodes (every node carries ≥1 edge by construction), so no dangling
    redistribution term is needed. Lineage is truncated every round —
    without the checkpoint the plan doubles per iteration and analysis
    time explodes long before data size matters. Cost: ``iters`` shuffles
    of the edge list; at 100 TB the edge list is the thing to
    pre-partition by node id so every round reuses one partitioning.

    Float determinism: per-round sums are order-sensitive, so ranks are
    reproducible to ~1e-12, not bit-exact — this op is certified by a
    numpy power-iteration reference (tests/test_graph_pagerank.py), not
    a DuckDB oracle, and registered rows-only.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    norm = (
        sym.join(deg, "u")
        .select("u", "v", (F.lit(1.0) / F.col("deg")).alias("w"))
        .localCheckpoint(eager=True)
    )
    nodes = norm.select(F.col("u").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iters):
        incoming = (
            norm.join(ranks, norm.u == ranks.node)
            .groupBy("v")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("in_mass"))
        )
        ranks = (
            nodes.join(incoming, nodes.node == incoming.v, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))
                ).alias("rank"),
            )
            # LAZY per-round checkpoint (r13, guide §7.3): still truncates
            # lineage (the returned plan is a LogicalRDD either way), but
            # the ten rounds now materialize inside the consumer's single
            # action instead of ten blocking driver jobs — the
            # part_pagerank_int convention. Measured (quiet host,
            # interleaved A/B, min-of-reps): full query 5.84→4.75 s at
            # sf0.1 (1.23×), 10.26→8.91 s at sf1 (1.15×); the iteration
            # phase alone ~1.3× at both scales.
            .localCheckpoint(eager=False)
        )
    return ranks
