"""Differential tests for the RDD parity engine: distributed run vs
the sequential oracle (the reference's own test strategy,
src/main/test-mr.sh:77-108 — compare after external sort)."""

from __future__ import annotations

import pytest

from mit6_5840_6_824_lab1_mapreduce_spark.functions.hashing import fnv1a32, reduce_bucket
from mit6_5840_6_824_lab1_mapreduce_spark.operators import mrapps
from mit6_5840_6_824_lab1_mapreduce_spark.operators.mapreduce import (
    run_job,
    run_job_combining,
    run_sequential,
    whole_text_input,
)

CORPUS = [
    ("pg-a.txt", "the quick brown fox jumps over the lazy dog\nthe dog barks"),
    ("pg-b.txt", "a quick brown cat naps; the fox runs. über-fox! 42 times\n"),
    ("pg-c.txt", "döner über straße ÄÖÜ niño café\nthe the the"),
    ("pg-d.txt", ""),
    ("pg-e.txt", "punctuation... only!!! 123 456 --- ___"),
]


def _golden(app: str):
    m, r = mrapps.APPS[app]
    return sorted(run_sequential(CORPUS, m, r))


def test_fnv1a_known_vectors():
    # FNV-1a 32-bit reference vectors (public constants).
    assert fnv1a32("") == 0x811C9DC5
    assert fnv1a32("a") == 0xE40C292C
    assert fnv1a32("foobar") == 0xBF9CF968
    assert 0 <= reduce_bucket("anything", 10) < 10


def test_reduce_bucket_cache_is_keyed_on_n_reduce():
    # One key under several n in a row: a memo keyed on the key alone
    # would answer every n after the first with the first's bucket.
    key = "straße"
    for n in (7, 10, 3, 10, 1 << 20, 7):
        assert reduce_bucket(key, n) == (fnv1a32(key) & 0x7FFFFFFF) % n


def _file_corpus(root) -> str:
    # 16 files of one size: wholeTextFiles packs whole files into splits,
    # so equal sizes make the split count exactly the requested minimum.
    body = " ".join(text for _, text in CORPUS)
    for i in range(16):
        (root / f"pg-{i:02}.txt").write_text(f"{body} file{i:02}", encoding="utf-8")
    return str(root / "pg-*.txt")


def test_whole_text_input_uses_every_core(spark, tmp_path):
    """Spark's own ``wholeTextFiles`` default is 2 splits whatever the
    core count; the map stage gets ``defaultParallelism`` tasks."""
    glob = _file_corpus(tmp_path)
    assert whole_text_input(spark, glob).getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    assert whole_text_input(spark, glob, min_partitions=1).getNumPartitions() == 1


def test_file_corpus_matches_sequential(spark, tmp_path):
    glob = _file_corpus(tmp_path)
    inputs = whole_text_input(spark, glob)
    m, r = mrapps.APPS["wc"]
    got = sorted(run_job(inputs, m, r, n_reduce=5).collect())
    assert got == sorted(run_sequential(inputs.collect(), m, r))


def test_wc_distributed_matches_sequential(spark):
    m, r = mrapps.APPS["wc"]
    got = sorted(run_job(CORPUS, m, r, n_reduce=5, spark=spark).collect())
    assert got == _golden("wc")


def test_indexer_distributed_matches_sequential(spark):
    m, r = mrapps.APPS["indexer"]
    got = sorted(run_job(CORPUS, m, r, n_reduce=3, spark=spark).collect())
    assert got == _golden("indexer")


def test_file_meta_distributed_matches_sequential(spark):
    m, r = mrapps.APPS["nocrash"]
    got = sorted(run_job(CORPUS, m, r, n_reduce=4, spark=spark).collect())
    assert got == _golden("nocrash")


def test_combining_path_matches_wc(spark):
    rdd = spark.sparkContext.parallelize(CORPUS)
    got = sorted(
        run_job_combining(
            rdd, mrapps.wc_map, lambda a, b: str(int(a) + int(b)), n_reduce=5
        ).collect()
    )
    assert got == _golden("wc")


@pytest.mark.parametrize("engine", ["run_job", "run_job_combining"])
def test_bucket_layout_parity(spark, engine):
    """Keys land in the FNV-1a bucket the reference would use
    (mr-out-<r> layout parity, src/mr/worker.go:25-29,86-94), on the
    combining path too."""
    m, r = mrapps.APPS["wc"]
    if engine == "run_job":
        out = run_job(CORPUS, m, r, n_reduce=7, spark=spark)
    else:
        rdd = spark.sparkContext.parallelize(CORPUS)
        out = run_job_combining(rdd, m, lambda a, b: str(int(a) + int(b)), n_reduce=7)
    per_part = out.mapPartitionsWithIndex(
        lambda i, rows: [(i, k) for k, _ in rows]
    ).collect()
    for part, key in per_part:
        assert part == reduce_bucket(key, 7)


from hypothesis import given, settings
from hypothesis import strategies as st

_doc_text = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x2FF),
    max_size=200,
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_doc_text, min_size=1, max_size=6))
def test_wc_property_distributed_matches_sequential(spark, texts):
    """Property: for arbitrary corpora (accented Latin incl. the
    tokenizer edge cases), the distributed job equals the sequential
    oracle after canonical sort — the reference's own invariant."""
    corpus = [(f"f{i}.txt", t) for i, t in enumerate(texts)]
    m, r = mrapps.APPS["wc"]
    got = sorted(run_job(corpus, m, r, n_reduce=3, spark=spark).collect())
    want = sorted(run_sequential(corpus, m, r))
    assert got == want
