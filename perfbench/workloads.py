"""The three workloads: their items, inputs, warm-up and output checks.

Each item is one call into the program's public functions, followed by
the action that forces its result:

- ``mr_corpus``: the reference apps through the RDD engine
  (``run_job`` / ``run_job_combining``, then ``write_text_output``) on
  a corpus generated from the run seed. Checked against
  ``run_sequential`` on the same corpus, as a multiset of output lines
  (``layers.line_digest``).
- ``sql_star`` and ``loop_pipeline``: registered queries over the
  engine's seed-42 test tables (``data/sf0.01``, warm-up on
  ``data/sf0.001``), forced by ``layers.digest_frame``. Checked against
  the digests pinned in ``digests.json``.
"""

from __future__ import annotations

import json
import pathlib
import random
import shutil
import subprocess
import sys
from collections.abc import Callable
from dataclasses import dataclass

from .layers import Tracer, combine, digest_frame, line_digest

HERE = pathlib.Path(__file__).resolve().parent
DIGESTS = HERE / "digests.json"

# Copies of the engine's deterministic test tables (seed 42): the scale
# its DuckDB oracle tests use, and the smoke-test scale for warm-up.
TABLES_DIR = HERE / "data" / "sf0.01"
WARM_DIR = HERE / "data" / "sf0.001"
N_REDUCE = 10  # the reference's nReduce

SQL_STAR = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q9_nation_profit",
    "tpch_q18_large_volume_customers",
    "sales_rollup",
    "events_sessionization",
    "events_asof_last_purchase",
    "orders_top3_per_customer",
    "kv_final_state",
    "wc_wordcount",
    "indexer_inverted_index",
)
LOOP_PIPELINE = (
    "embedding_kmeans_centroids",
    "tokenizer_bpe_merges",
    "dedup_ngram_jaccard",
    "similarity_topk_batch",
    "multimodal_feature_extract",
)
MR_ITEMS = (("wc", "run_job"), ("wc", "run_job_combining"), ("indexer", "run_job"))


def add_counts(a: str, b: str) -> str:
    """The associative merge for ``wc`` on the combining path."""
    return str(int(a) + int(b))


@dataclass(frozen=True)
class Item:
    name: str
    # run(spark, tracer, trace_id, after_build) -> output token
    run: Callable
    # check(output token) -> None when correct, else a message
    check: Callable[[object], str | None]
    # called outside the timed region before each run
    reset: Callable[[], None] = lambda: None
    is_mr: bool = False  # an RDD-engine item (map/reduce stage split applies)


@dataclass
class Prepared:
    items: list[Item]  # timed, in this run's order
    warm_items: list[Item]  # the fixed warm-up inside the set-up
    input_bytes: int


# --- table items --------------------------------------------------------


def load_pinned() -> dict[str, list[int]]:
    return json.loads(DIGESTS.read_text())["digests"]


def table_item(name: str, sf_dir: str, pinned: dict | None) -> Item:
    from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY

    fn = REGISTRY[name].fn

    def run(spark, tracer: Tracer, tid, after_build):
        with tracer.span("queries.build", tid):
            df = fn(spark, sf_dir)
        after_build()
        with tracer.span("spark.plan", tid):
            forced = digest_frame(df)
            forced._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec", tid):
            row = forced.collect()[0]
        return combine(*row)

    def check(digest) -> str | None:
        if pinned is None:
            return None
        want = pinned.get(name)
        return None if digest == want else f"digest {digest} != pinned {want}"

    return Item(name, run, check)


def _prepare_tables(names, warm_names, work: pathlib.Path, seed: int) -> Prepared:
    pinned = load_pinned()
    order = list(names)
    random.Random(seed).shuffle(order)
    return Prepared(
        items=[table_item(n, str(TABLES_DIR), pinned) for n in order],
        warm_items=[table_item(n, str(WARM_DIR), None) for n in warm_names],
        input_bytes=sum(p.stat().st_size for p in TABLES_DIR.glob("*.parquet")),
    )


# --- MR items -------------------------------------------------------------


def mr_item(
    app: str,
    engine: str,
    corpus: list[pathlib.Path],
    out_dir: pathlib.Path,
    expected: list[int] | None,
) -> Item:
    from mit6_5840_6_824_lab1_mapreduce_spark.operators.mapreduce import (
        run_job,
        run_job_combining,
        whole_text_input,
    )
    from mit6_5840_6_824_lab1_mapreduce_spark.operators.mrapps import APPS
    from mit6_5840_6_824_lab1_mapreduce_spark.sources.text import write_text_output

    map_fn, reduce_fn = APPS[app]
    glob = str(corpus[0].parent / "*.txt")

    def run(spark, tracer: Tracer, tid, after_build):
        with tracer.span(f"operators.mapreduce.{engine}", tid):
            inputs = whole_text_input(spark, glob)
            if engine == "run_job":
                rdd = run_job(inputs, map_fn, reduce_fn, n_reduce=N_REDUCE)
            else:
                rdd = run_job_combining(inputs, map_fn, add_counts, n_reduce=N_REDUCE)
        after_build()
        with tracer.span("sources.write_text_output", tid):
            write_text_output(rdd, str(out_dir), n_reduce=N_REDUCE)
        return out_dir

    def verify(out) -> str | None:
        if expected is None:
            return None

        def lines():
            for part in sorted(out.glob("part-*")):
                with part.open(encoding="utf-8") as f:
                    for line in f:
                        yield line.rstrip("\n")

        got = line_digest(lines())
        if got == expected:
            return None
        return f"output lines {got} != run_sequential {expected} (line count, digest)"

    return Item(
        f"{app}.{engine}",
        run,
        verify,
        lambda: shutil.rmtree(out_dir, ignore_errors=True),
        is_mr=True,
    )


def _prepare_mr(work: pathlib.Path, seed: int) -> Prepared:
    """Generate the corpus and its expected output in a child process
    (``datagen.py``), so that work stays out of the runner's memory."""
    corpus_dir = work / "corpus"
    shutil.rmtree(corpus_dir, ignore_errors=True)
    apps = sorted({a for a, _ in MR_ITEMS})
    subprocess.run(
        [sys.executable, str(HERE / "datagen.py"), "--seed", str(seed),
         "--out", str(corpus_dir), "--apps", *apps],
        check=True,
    )
    corpus = sorted((corpus_dir / "main").glob("*.txt"))
    warm = sorted((corpus_dir / "warm").glob("*.txt"))
    expected = json.loads((corpus_dir / "expected.json").read_text())
    out = work / "out"
    order = [
        mr_item(app, eng, corpus, out / f"{app}.{eng}", expected[app]) for app, eng in MR_ITEMS
    ]
    random.Random(seed).shuffle(order)
    # Every item warms up once: with only the first one warmed, the
    # first timed pass ran 10-30% slower than the rest.
    return Prepared(
        items=order,
        warm_items=[mr_item(app, eng, warm, out / f"warm-{app}.{eng}", None) for app, eng in MR_ITEMS],
        input_bytes=sum(p.stat().st_size for p in corpus),
    )


# --- registry ---------------------------------------------------------------


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    prepare: Callable[[pathlib.Path, int], Prepared]
    # Seconds one timed pass takes on a 4-core box, and the fewest
    # timed passes a run makes. The pass count depends only on these
    # and --seconds, so every run of a workload has the same number of
    # samples however fast the program is.
    #
    # There is no untimed warm pass at full scale. The loop queries run
    # slower in the first pass after set-up (measured on 4 cores: 9.8,
    # 7.3, 6.9 s for passes 1-3 of one run), but each item's median
    # over the passes leaves the first, slowest one out.
    nominal_pass_s: float
    min_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "mr_corpus",
            "the paper's engine: Python map/reduce workers, the FNV shuffle "
            "and the text sink, no Catalyst",
            _prepare_mr,
            5.0,
            5,
        ),
        Workload(
            "sql_star",
            "JVM-only relational queries: parquet scan, Catalyst planning "
            "and the per-job AQE floor",
            lambda work, seed: _prepare_tables(
                SQL_STAR,
                ("tpch_q1_pricing_summary",),
                work,
                seed,
            ),
            6.5,
            3,
        ),
        Workload(
            "loop_pipeline",
            "driver-loop, LSH and Arrow-Python queries whose time is spent "
            "launching jobs while the DataFrame is built",
            # The warm-up runs every item once at small scale. These
            # queries read documents and embeddings, which are as large
            # at sf0.001 as at sf0.01, so it is close to a full pass:
            # without it the JIT was still warming up in the second
            # timed pass, and the passes after it were slower too.
            lambda work, seed: _prepare_tables(LOOP_PIPELINE, LOOP_PIPELINE, work, seed),
            6.0,
            4,
        ),
    )
}


def pass_count(seconds: float, wl: Workload) -> int:
    """Timed passes for a run of ``seconds``."""
    return max(wl.min_passes, round(seconds / wl.nominal_pass_s))
