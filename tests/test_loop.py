"""operators/loop.py, the one driver of the connected-components,
PageRank, k-means and BPE loops: each loop survives a failed task the
way the reference's MapReduce survives a crashed worker (`test-mr.sh`
crash phase), a failing round says which round it was and releases the
loop's cached inputs, rounds are labelled, truncation leaves the
output unchanged, and lineage truncation has one home."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mit6_5840_6_824_lab1_mapreduce_spark.operators import loop
from mit6_5840_6_824_lab1_mapreduce_spark.operators import similarity as S
from mit6_5840_6_824_lab1_mapreduce_spark.operators.bpe import bpe_learn_merges
from mit6_5840_6_824_lab1_mapreduce_spark.operators.graph import (
    connected_components,
    weighted_pagerank,
)

from .conftest import SF_SMOKE

_DESC = "spark.job.description"


def _fail_round_2_once(monkeypatch, spark, name: str, marker: pathlib.Path):
    """Route the frame that `name`'s round 2 truncates through a
    schema-preserving mapInPandas whose first attempt at partition 0
    raises (leaving `marker`). The session's master is local[4,2], so
    Spark re-runs the task from the round's lineage."""
    from pyspark import TaskContext

    def fail_once(batches):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            marker.touch()
            raise RuntimeError("injected task failure")
        yield from batches

    sc = spark.sparkContext
    truncate = loop.truncate

    def truncate_with_failure(frame, eager=False):
        if sc.getLocalProperty(_DESC) == f"{name} round 2":
            frame = frame.mapInPandas(fail_once, frame.schema)
        return truncate(frame, eager)

    monkeypatch.setattr(loop, "truncate", truncate_with_failure)


def _chain(spark, n=12):
    verts = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n - 1)])
    return verts, edges


def _pagerank_edges(spark):
    return spark.createDataFrame(
        [
            Row(src=1, dst=2, weight=3),
            Row(src=2, dst=3, weight=1),
            Row(src=3, dst=1, weight=2),
            Row(src=1, dst=3, weight=5),
            Row(src=4, dst=1, weight=7),  # source-only node
        ]
    )


def _kmeans_input(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    return S.embeddings_quantized(emb)


def _bpe_words(spark):
    return spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newer", 3), ("widest", 6), ("aaaa", 1)],
        "word string, freq long",
    )


# name -> (input builder, loop call, result as a comparable value).
LOOPS = {
    "connected_components": (
        _chain,
        lambda inp: connected_components(*inp),
        lambda df: sorted(map(tuple, df.collect())),
    ),
    "weighted_pagerank": (
        _pagerank_edges,
        lambda edges: weighted_pagerank(edges, n_iter=2),
        lambda df: sorted(map(tuple, df.collect())),
    ),
    "kmeans_train": (
        _kmeans_input,
        lambda v: S.kmeans_train(v, n_seeds=4, n_iter=3),
        lambda df: sorted((r.cid, tuple(r.cq), r.cn2, r.n_members) for r in df.collect()),
    ),
    "bpe_learn_merges": (
        _bpe_words,
        lambda words: bpe_learn_merges(words, 5),
        lambda df: sorted(map(tuple, df.collect())),
    ),
}


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_loop_survives_task_failure(spark, monkeypatch, tmp_path, name):
    build, run, result = LOOPS[name]
    inp = build(spark)
    want = result(run(inp))
    marker = tmp_path / "failed"
    _fail_round_2_once(monkeypatch, spark, name, marker)
    got = result(run(inp))
    assert marker.exists(), "round 2's task never failed"
    assert got == want


def test_failing_round_is_named_and_releases_cached(spark):
    """A step whose tasks always fail: rounds 1 and 2 truncate lazily
    then eagerly, so the failure surfaces in round 2's job; the error
    names that round and the cached inputs are released anyway."""

    def always_fail(batches):
        raise RuntimeError("step failed")
        yield  # a generator, as mapInPandas expects

    cached = (spark.range(5).persist(), spark.range(3).persist())
    for frame in cached:
        frame.count()
    with pytest.raises(Exception) as info:
        loop.iterate(
            "failing",
            spark.range(4),
            lambda df: df.mapInPandas(always_fail, df.schema),
            2,
            cached=cached,
        )
    assert "failing round 2" in getattr(info.value, "__notes__", [])
    assert [frame.is_cached for frame in cached] == [False, False]


def test_unconverged_loop_raises_and_releases_cached(spark):
    cached = spark.range(2).persist()
    with pytest.raises(RuntimeError, match="stuck did not converge within 3 rounds"):
        loop.iterate(
            "stuck", spark.range(2), lambda df: df, 3, done=lambda df: False,
            cached=(cached,),
        )
    with pytest.raises(RuntimeError, match="stuck did not converge within 0 rounds"):
        loop.iterate("stuck", spark.range(2), lambda df: df, 0, done=lambda df: True)
    assert cached.is_cached is False


@pytest.mark.parametrize("caller", ["caller's description", None])
def test_rounds_are_labelled_and_caller_description_restored(spark, caller):
    sc = spark.sparkContext
    seen = []

    def step(df):
        seen.append(sc.getLocalProperty(_DESC))
        return df

    sc.setJobDescription(caller)
    try:
        loop.iterate("labelled", spark.range(3), step, 3)
        after = sc.getLocalProperty(_DESC)
    finally:
        sc.setJobDescription(None)
    assert seen == ["labelled round 1", "labelled round 2", "labelled round 3"]
    assert after == caller


def test_truncation_cadence_is_output_invariant(spark):
    """Truncating every round must give the output of a plain Python
    replay: the recurrence (a join and an aggregate per round, like
    PageRank's) is integer-exact, so any divergence means a truncation
    dropped or reordered a materialization. The cached edges make the
    last checkpoint eager, so the result must also survive their
    unpersist."""
    links = [(1, 2, 3), (2, 3, 1), (3, 1, 2), (1, 3, 5), (4, 1, 7)]
    nodes = range(1, 5)

    def step(state, edges):
        inflow = (
            edges.join(state, edges.src == state.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("w")).alias("inflow"))
        )
        return state.join(inflow, "node", "left").select(
            "node",
            ((F.col("r") * 7 + F.coalesce("inflow", F.lit(0))) % 1_000_003).alias("r"),
        )

    edges = spark.createDataFrame(links, "src long, dst long, w long").persist()
    start = spark.createDataFrame([(n, n) for n in nodes], "node long, r long")
    out = loop.iterate("truncation", start, lambda s: step(s, edges), 5, cached=(edges,))

    r = {n: n for n in nodes}
    for _ in range(5):
        inflow = {n: sum(r[s] * w for s, d, w in links if d == n) for n in nodes}
        r = {n: (r[n] * 7 + inflow[n]) % 1_000_003 for n in nodes}
    assert {row.node: row.r for row in out.collect()} == r


def test_lineage_truncation_has_one_home():
    """The four loops truncate only through operators/loop.py."""
    ops = pathlib.Path(loop.__file__).parent
    files = ("graph.py", "bpe.py", "similarity.py", "loop.py")
    owners = [f for f in files if "localCheckpoint(" in (ops / f).read_text()]
    assert owners == ["loop.py"]
