"""Iterative graph operators: connected components by min-label
propagation — the clustering step that turns near-duplicate PAIRS
into dedup GROUPS (keep one doc per component).

This is the one operator class here that is inherently iterative:
each round is a join + aggregate (both hash-partitioned by vertex),
and the loop runs until no label changes — ≤ graph-diameter rounds.
Near-dup graphs are forests of tiny cliques, so the diameter is small
and the per-round shuffle is proportional to the edge count, never
quadratic. The rounds run on operators/loop.py's `iterate`, which
truncates lineage per round; convergence is checked with a count()
on changed labels (the only driver-side value — a scalar).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .loop import iterate, truncate


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """``vertices``: one column ``id``. ``edges``: columns
    ``id_a, id_b`` (undirected, any orientation). Returns
    ``(id, component)`` where component = min vertex id reachable.

    Deterministic: min-label propagation has a unique fixed point.
    """
    # ONE shuffle builds the deduped, co-partitioned adjacency (r12
    # optimization round, guide §2.4): repartition("src") FIRST, then
    # dedupe with groupBy(src, dst) — hashpartitioning(src) satisfies
    # the aggregate's clustering requirement (src is a prefix of the
    # grouping key), so the dedup adds NO second exchange and the
    # cached table comes out hash-partitioned on the join key, which
    # every round's join then reads co-partitioned (the per-round
    # shuffle moves only the label side). This replaces the r05-r11
    # shape (distinct -> count -> repartition(n_parts) -> persist ->
    # count -> unpersist), which paid TWO full passes over the edge
    # list and two extra job launches before the loop could start,
    # just to hand-size the partition count; AQE's partition
    # coalescing now sizes the shuffle from the data instead
    # (scale-adaptive, guide §2.2).
    adj = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .repartition("src")
        .distinct()
        .persist()
    )
    # Truncated, LAZILY (r12): the first round's convergence count
    # materializes it. Round 1 is FUSED into initialization: with
    # identity labels the first propagate's join degenerates to
    # min(src) per dst, so one aggregate here saves a whole round
    # (round-5 perf item). Only edge endpoints iterate; the singleton
    # majority of a near-dup graph is unioned back at the end, which
    # shrinks every per-round shuffle from |V| to |V_with_edges|. The
    # adjacency is symmetric, so groupBy(dst) covers every endpoint.
    labels = truncate(
        adj.groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("nbr_component"))
        .select(
            "id",
            F.least(F.col("id"), F.col("nbr_component")).alias("component"),
        )
    )

    def propagate(lbl: DataFrame) -> DataFrame:
        """One min-label step: (id, component, _chg)."""
        neighbor_min = (
            adj.join(lbl, adj.src == lbl.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        nxt = F.least(
            F.col("component"),
            F.coalesce(F.col("nbr_component"), F.col("component")),
        )
        # the change flag is derived in the SAME pass as the label
        # update (old label is already in hand) — a separate
        # new-vs-old join would pay one more shuffle for information
        # this select already has
        return lbl.join(neighbor_min, "id", "left").select(
            "id",
            nxt.alias("component"),
            (nxt != F.col("component")).alias("_chg"),
        )

    # ONE propagation step per round. (A doubled step — two joins per
    # checkpoint to halve the per-round job count — was measured 50%
    # SLOWER at bench scale: the deeper per-round lineage costs more
    # than the saved job launches.) The convergence count is each
    # round's one job.
    labels = iterate(
        "connected_components", labels, propagate, max_iter,
        done=lambda lbl: lbl.where("_chg").count() == 0, cached=(adj,),
    ).drop("_chg")
    singletons = vertices.join(labels.select("id"), "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return labels.unionByName(singletons)


def weighted_pagerank(
    edges: DataFrame, n_iter: int = 5, scale: int = 1_000_000
) -> DataFrame:
    """Weighted PageRank, damping 0.85, FIXED iteration count, exact
    integer arithmetic: ranks are scaled integers (start = `scale`),
    per-edge contribution is ``(rank * weight) div out_weight`` and
    the update is ``0.15*scale + (85 * inflow) div 100`` — floor
    division everywhere, so the result is bit-identical on any
    engine/partitioning (no float summation ever occurs). The fixed
    count (vs convergence test) keeps the op expressible as chained
    SQL CTEs for the oracle; production would loop to an epsilon the
    same way connected_components does.

    ``edges``: (src, dst, weight>0) directed. Returns (node,
    rank_scaled). Per round: one join keyed on src (adjacency cached
    co-partitioned) + one aggregate by dst — edge-count-proportional
    shuffles, the same shape GraphX/Pregel lowers to. Lineage is
    truncated every round by operators/loop.py's `iterate`, which also
    materializes the final ranks before the cached adjacency is
    unpersisted.
    int64 headroom: rank mass is bounded by |V|*scale, so
    rank*weight needs |V|*scale*max_w < 2^63 — at web scale move
    `scale` down or the contribution column to decimal(38,0).
    """
    # Out-weight via a window over the SAME src shuffle the adjacency
    # cache needs anyway (r12 optimization round): the r05-r11 shape
    # (groupBy(src) then join back on src) re-derived the edge table
    # on both sides of that join and paid the join itself; a
    # sum-over-partition window on the repartitioned edges attaches
    # `ow` in the same exchange — one pass, identical values (integer
    # sum, order-free).
    adj = (
        edges.select("src", "dst", F.col("weight").alias("w"))
        .repartition("src")
        .withColumn("ow", F.sum("w").over(Window.partitionBy("src")))
        .persist()
    )
    nodes = (
        adj.select(F.col("src").alias("node"))
        .union(adj.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    base = int(0.15 * scale)

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (
            adj.join(ranks, adj.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr("(r * w) div ow").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr("(85 * coalesce(inflow, 0L)) div 100")
            ).alias("r"),
        )

    # The initial ranks are truncated too (lazily, r12): a
    # graph_pagerank_nations call launched 28 jobs with it and 32
    # without (sf0.01, local[4]).
    ranks = truncate(nodes.select("node", F.lit(scale).cast("long").alias("r")))
    ranks = iterate("weighted_pagerank", ranks, step, n_iter, cached=(adj, nodes))
    return ranks.select("node", F.col("r").alias("rank_scaled"))
