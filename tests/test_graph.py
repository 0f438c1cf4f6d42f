"""Connected-components unit semantics: chains, cliques, singletons,
orientation-independence."""

from __future__ import annotations

from pyspark.sql import Row

from mit6_5840_6_824_lab1_mapreduce_spark.operators.graph import connected_components


def test_components_chain_clique_singleton(spark):
    verts = spark.createDataFrame([Row(id=i) for i in range(1, 9)])
    # chain 1-2-3-4 (diameter > 1 forces multiple rounds),
    # clique 5-6-7, singleton 8; edge orientation mixed
    edges = spark.createDataFrame(
        [
            Row(id_a=2, id_b=1),
            Row(id_a=2, id_b=3),
            Row(id_a=4, id_b=3),
            Row(id_a=5, id_b=6),
            Row(id_a=7, id_b=5),
            Row(id_a=6, id_b=7),
        ]
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(verts, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8}


import pytest as _pytest


@_pytest.mark.parametrize("trial", range(3))
def test_components_long_chain_converges(spark, trial):
    """3 trials (the reference loops its whole suite,
    test-mr-many.sh:15-22): CC convergence is the next most race-prone
    path after speculation/checkpoint-resume — the loop pins the
    lineage-truncated iteration against scheduling nondeterminism."""
    n = 20
    verts = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n - 1)])
    got = {r["id"]: r["component"] for r in connected_components(verts, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_components_unconverged_raises(spark):
    """Exhausting max_iter with labels still moving must raise, not
    silently return partial propagation (round-1 advice)."""
    import pytest

    n = 12  # chain needs ~n rounds; max_iter=2 cannot finish
    verts = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n - 1)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, edges, max_iter=2)


def test_components_max_iter_zero_raises_runtime_error(spark):
    """max_iter=0 hits the for-else with no rounds run; must raise the
    intended RuntimeError, not NameError on an unbound loop variable."""
    import pytest

    verts = spark.createDataFrame([Row(id=1), Row(id=2)])
    edges = spark.createDataFrame([Row(id_a=1, id_b=2)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, edges, max_iter=0)


def test_pagerank_mass_and_floor_bounds(spark):
    """Integer PageRank invariants: every rank >= the damping base
    (0.15 * scale); total mass never exceeds the initial |V| * scale
    (floor division only loses mass, never creates it)."""
    from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
    from .conftest import SF_CORRECT

    rows = REGISTRY["graph_pagerank_nations"].fn(spark, SF_CORRECT).collect()
    assert rows
    n = len(rows)
    assert all(r.rank_scaled >= 150_000 for r in rows)
    assert sum(r.rank_scaled for r in rows) <= n * 1_000_000
    # a real trade network concentrates rank: not all equal
    assert len({r.rank_scaled for r in rows}) > 1


def test_pagerank_zero_iterations_materialized_before_unpersist(spark):
    """Degenerate n_iter=0 (ADVICE r12): the loop never runs, so the
    initial ranks are the final ranks — they must be eagerly
    checkpointed BEFORE the finally block unpersists the cached
    adjacency (the r12 lazy-init change made this path return an
    unmaterialized frame). Ranks = scale for every node."""
    from mit6_5840_6_824_lab1_mapreduce_spark.operators.graph import (
        weighted_pagerank,
    )

    edges = spark.createDataFrame(
        [Row(src=1, dst=2, weight=3), Row(src=2, dst=1, weight=1)]
    )
    out = weighted_pagerank(edges, n_iter=0)
    # The returned frame's leaf must be an already-materialized
    # checkpoint. The plan string reads ExistingRDD for an eager and a
    # lazy checkpoint alike, so ask the leaf RDD itself.
    leaf = out._jdf.queryExecution().analyzed()
    while leaf.children().size() > 0:
        leaf = leaf.children().head()
    assert leaf.nodeName() == "LogicalRDD"
    assert leaf.rdd().isCheckpointed()
    assert {(r.node, r.rank_scaled) for r in out.collect()} == {
        (1, 1_000_000), (2, 1_000_000)}
