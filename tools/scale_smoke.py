"""Opt-in sf1.0 scale-credibility smoke (round-6, verdict r05 task 6).

Everything in CI is proven at sf0.01/sf0.1; this script executes the
most expensive registered queries at ~10x the bench scale (sf1.0,
~6M lineitem rows / 50k documents) and records wall time plus shuffle
read/write bytes per query against the same run at sf0.1 — the check
is *completion* plus *sub-quadratic shuffle growth* for the bucketed
dedup family. NOT part of default CI (runtime ~minutes, disk ~1 GB):

    python tools/scale_smoke.py            # generates data on first run
    python tools/scale_smoke.py --regen    # force regeneration

Data: the driver's testdata tooling only emits sf<=0.1, so sf1.0 is
generated HERE (documented in SCALE.md) by stacking 10 key-shifted
copies of the sf0.1 tables: fact keys move into disjoint ranges per
copy, event timestamps shift by one hour per copy, document text gets
a per-copy suffix token and embeddings a per-copy dimension nudge so
replicas are near- (not exact-) duplicates. Caveat, stated where the
numbers are used: replication makes every document a member of a
10-strong near-dup clique, a HARDER candidate-pair density than
natural 10x growth — completing inside the budget is a conservative
pass for the dedup family. Dimensions (region/nation) keep reference
cardinality, as they would at any real scale.

Shuffle bytes come from the Spark UI REST API (status store), summed
over the stages each query executes.
"""

from __future__ import annotations

import gc
import json
import pathlib
import sys
import time
import urllib.request

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SRC = pathlib.Path("/root/testdata/sf0.1")
DST = REPO / "scale_data" / "sf1.0"
COPIES = 10

# The five most expensive r05 queries (judge's list) plus a pure-scan
# baseline whose cost must track raw data volume, plus the similarity
# family's scale pair: the INTENTIONALLY quadratic exact-cosine
# baseline (expected ~100x pair-work at 10x rows — the documented
# reason it is size-gated at 10^5 vectors) against the sub-quadratic
# LSH bucket join that replaces it at scale, with query-time ANN as
# the read path.
QUERIES = [
    "tpch_q1_pricing_summary",
    "profile_orders_columns",
    "dedup_minhash_components",
    "pipeline_clean_corpus",
    "corpus_leakage_safe_split",
    "graph_pagerank_nations",
    "dedup_embedding_cosine",
    "similarity_lsh_near_pairs",
    "similarity_ann_lsh",
    # Late round-6 widening: one representative per remaining family
    # whose scale behavior was argued but never executed past sf0.1 —
    # the full export composition, a scaled-integer sketch, the
    # iterative BPE learner, session windowing over the event log,
    # and the fused Arrow decode path.
    "pipeline_training_export",
    "sketch_histogram_quantiles",
    "tokenizer_bpe_merges",
    "events_sessionization",
    "multimodal_feature_extract",
    # Round-7 curation flagship: the banded block-hash join + islands
    # window is the only genuinely new scale shape in queries/curation.py
    # (the other seven are per-row projections / single windows /
    # bounded explodes). The 10-clique replication makes every base
    # doc's blocks collide across all 10 copies on full diagonals — a
    # harder candidate density than natural growth, same caveat as the
    # dedup family.
    "dedup_substring_runs",
    # Round-8 curation flagship: the degree profile joins the FULL
    # quantized vector table against the LSH pair graph's degree
    # aggregate (the other three r09 candidates are bounded-output
    # aggregates or ride already-smoked join shapes). The 10-clique
    # replication again makes candidate density harsher than natural
    # growth.
    "similarity_graph_degree",
    # Round-9: the distributed-rank family (operators/rank.py replaced
    # the single-partition windows). vocab_coverage_topk ranks the
    # corpus vocabulary (the largest rank frame in the tree);
    # customer_rfm_segments chains THREE ranks over the per-customer
    # aggregate — the worst-case helper composition. Both must grow
    # ~linearly: the rank is two slim shuffles per order, never a
    # single-task sort.
    "vocab_coverage_topk",
    "customer_rfm_segments",
    # Round-10 (verdict r09 task 3): the two suite-noise-exonerated
    # bench outliers — cold floors are on file (NOTES_r10 §2), this
    # puts the linear-scaling evidence next to them — plus the three
    # most expensive registered queries never 10x-measured:
    # dedup_minhash_keep (keeper join-back over the banded-LSH pair
    # graph), dedup_simhash_pairs (pigeonhole band join), and
    # sketch_kmv_merge (post-rewrite orderBy.limit(k) arms — never
    # smoked since the r09 plan change).
    "orders_market_basket",
    "events_props_json",
    "dedup_minhash_keep",
    "dedup_simhash_pairs",
    "sketch_kmv_merge",
    # Round-11 (verdict r10 task 5): the three promoted compressed
    # codecs. PNG is the one decode with a plausible scale cliff —
    # its defilter is a per-scanline Python loop inside the Arrow
    # stage (operators/multimodal.py notes it honestly) — so measure
    # it at 10x rather than argue; G.711 and RLE8 ride along to put
    # wall + shuffle numbers next to every codec the registry ships.
    "multimodal_png_decode",
    "multimodal_g711_decode",
    "multimodal_rle8_decode",
    # Round-12 rotation (verdict r11 stretch 8): the five heaviest
    # registered queries in the r11 closing record never 10x-measured.
    # pipeline_corpus_stats exercises the one-scan multi-signal corpus
    # aggregate; dedup_minhash_lsh (+_capped) is the uncapped/capped
    # banded-LSH pair itself (components/keep ride it but the base
    # candidate join was never smoked alone); dedup_ngram_jaccard is
    # the pigeonhole n-gram band join; decontam_drop_list is the
    # broadcast Bloom + semi-join screen over the full corpus.
    "pipeline_corpus_stats",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "dedup_ngram_jaccard",
    "decontam_drop_list",
    # Round-12, second batch (same rotation rationale): the next five
    # heaviest never-10x-measured registered queries — the corpus-wide
    # BPE apply (vocab-sized merge table over every token), k-means
    # (iterative centroid loop over the full embedding table), the
    # BPE segmenter's longest-match join, the multiprobe ANN read
    # path, and the theta-sketch join-size estimate.
    "corpus_bpe_token_counts",
    "embedding_kmeans_centroids",
    "tokenizer_bpe_segment",
    "similarity_ann_multiprobe",
    "sketch_join_estimate",
    # Round-12, third batch: the next five heaviest never-10x-measured
    # registered queries (r11 closing record order) — the simhash
    # fingerprint projection, the decontam Bloom-build arm alone
    # (decontam_drop_list smoked the composed screen), the rolling
    # document fingerprint, the Jaccard-vs-threshold recall curve over
    # the banded pair graph, and the incremental dedup probe's
    # batch-vs-index join. NOTE: scale_verify.py (r12) now also
    # records sec_spark for ALL 158 queries at sf1.0 — this rotation
    # keeps the shuffle-bytes + sf0.1-companion view widening on the
    # heaviest rows, which the wall-only sweep doesn't carry.
    "dedup_simhash_fingerprints",
    "decontam_bloom_prefilter",
    "text_fingerprint",
    "dedup_threshold_curve",
    "dedup_incremental_new",
]

# Max base key per table, used to shift each copy into a disjoint range.
_SHIFT = 100_000_000


def generate() -> None:
    import duckdb

    DST.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    copies = f"range({COPIES})"  # t(i)

    def emit(table: str, select: str) -> None:
        src = SRC / f"{table}.parquet"
        out = DST / f"{table}.parquet"
        con.execute(
            f"COPY ({select.format(src=str(src), copies=copies)}) TO '{out}'"
            f" (FORMAT PARQUET)"
        )
        n = con.sql(f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]
        print(f"  {table}: {n} rows")

    # Dimensions: reference cardinality at every scale.
    for t in ("region", "nation"):
        emit(t, "SELECT * FROM read_parquet('{src}')")
    emit("supplier", """
        SELECT s_suppkey + i*{shift} AS s_suppkey, s_name, s_nationkey,
               s_acctbal
        FROM read_parquet('{src}'), {copies} AS t(i)""".replace("{shift}", str(_SHIFT)))
    emit("customer", """
        SELECT c_custkey + i*{shift} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment
        FROM read_parquet('{src}'), {copies} AS t(i)""".replace("{shift}", str(_SHIFT)))
    emit("part", """
        SELECT p_partkey + i*{shift} AS p_partkey, p_name, p_brand, p_type,
               p_size, p_retailprice
        FROM read_parquet('{src}'), {copies} AS t(i)""".replace("{shift}", str(_SHIFT)))
    emit("orders", """
        SELECT o_orderkey + i*{shift} AS o_orderkey,
               o_custkey + i*{shift} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM read_parquet('{src}'), {copies} AS t(i)""".replace("{shift}", str(_SHIFT)))
    emit("lineitem", """
        SELECT l_orderkey + i*{shift} AS l_orderkey,
               l_partkey + i*{shift} AS l_partkey,
               l_suppkey + i*{shift} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM read_parquet('{src}'), {copies} AS t(i)""".replace("{shift}", str(_SHIFT)))
    emit("events", """
        SELECT event_id + i*{shift} AS event_id,
               ts + to_seconds(i*3600) AS ts,
               user_id + i*{shift} AS user_id,
               event_type, value, props
        FROM read_parquet('{src}'), {copies} AS t(i)""".replace("{shift}", str(_SHIFT)))
    # Documents: per-copy suffix token -> replicas are NEAR-dups (a
    # 10-clique per base doc), deliberately harder than natural growth.
    emit("documents", """
        SELECT doc_id + i*{shift} AS doc_id,
               CASE WHEN i = 0 THEN text
                    ELSE text || ' copyvariant' || CAST(i AS VARCHAR) END AS text,
               lang, source,
               n_chars + CASE WHEN i = 0 THEN 0
                              ELSE len(' copyvariant') + len(CAST(i AS VARCHAR))
                         END AS n_chars
        FROM read_parquet('{src}'), {copies} AS t(i)""".replace("{shift}", str(_SHIFT)))
    emit("embeddings", """
        SELECT vec_id + i*{shift} AS vec_id,
               list_transform(embedding,
                              x -> CAST(x + i * 0.001 AS FLOAT)) AS embedding,
               label
        FROM read_parquet('{src}'), {copies} AS t(i)""".replace("{shift}", str(_SHIFT)))
    con.close()


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def _shuffle_totals(spark) -> tuple[int, int]:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over all
    completed stages so far."""
    stages = _rest(spark, "/stages?status=complete")
    return (
        sum(s.get("shuffleReadBytes", 0) for s in stages),
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
    )


def main() -> None:
    # Sentinel is the LAST-written table, so an interrupted generation
    # (lineitem present, documents/embeddings missing) regenerates
    # instead of crashing or reading stale files downstream.
    if "--regen" in sys.argv or not (DST / "embeddings.parquet").exists():
        print(f"generating sf1.0 under {DST} ({COPIES}x sf0.1, key-shifted)")
        generate()

    from pyspark.sql import functions as F

    from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
    from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

    spark = get_spark(
        app_name="scale-smoke",
        extra_conf={
            "spark.ui.enabled": "true",
            # Shuffle deltas sum over ALL completed stages; if the
            # status store evicted stages between the r0 and r1 reads
            # (default retainedStages=1000, and the iterative CC/
            # PageRank queries burn stages fast at sf1.0), deltas go
            # negative/undercounted silently. Retain far more than a
            # full run produces.
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def force(df) -> int:
        h = df.select(F.xxhash64(*df.columns).alias("_h"))
        h.agg(F.bit_xor("_h")).collect()
        return df.count()

    # Warm JVM/codegen the same way bench.py does.
    force(REGISTRY["tpch_q1_pricing_summary"].fn(spark, str(SRC)))

    # Python worker pool warm, re-issued per query below (rationale +
    # measurements in session.warm_python_worker_pool): the factory
    # culls idle pooled workers after a hardcoded 1 minute, so a query
    # following a long JVM-only stretch would otherwise pay
    # fork+pandas-import per core inside its timing window.
    from mit6_5840_6_824_lab1_mapreduce_spark.session import (
        warm_python_worker_pool,
    )

    results: dict[str, dict] = {}
    for sf_name, sf_dir in (("sf0.1", str(SRC)), ("sf1.0", str(DST))):
        for name in QUERIES:
            spark.catalog.clearCache()
            gc.collect()
            warm_python_worker_pool(spark)
            r0, w0 = _shuffle_totals(spark)
            t0 = time.perf_counter()
            rows = force(REGISTRY[name].fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            r1, w1 = _shuffle_totals(spark)
            results.setdefault(name, {})[sf_name] = {
                "sec": round(dt, 2),
                "rows": rows,
                "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
                "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            }
            print(f"{sf_name} {name}: {dt:.1f}s rows={rows} "
                  f"shufW={(w1 - w0) / 1e6:.1f}MB", flush=True)

    print("\n| query | sf0.1 s | sf1.0 s | time x | sf0.1 shufW MB |"
          " sf1.0 shufW MB | shufW x | sf1.0 rows |")
    print("|---|---|---|---|---|---|---|---|")
    for name, r in results.items():
        a, b = r["sf0.1"], r["sf1.0"]
        tx = b["sec"] / a["sec"] if a["sec"] else float("inf")
        wx = (b["shuffle_write_mb"] / a["shuffle_write_mb"]
              if a["shuffle_write_mb"] else float("inf"))
        print(f"| {name} | {a['sec']} | {b['sec']} | {tx:.1f} |"
              f" {a['shuffle_write_mb']} | {b['shuffle_write_mb']} |"
              f" {wx:.1f} | {b['rows']} |")
    # Round-derived name (was hardcoded r06 — a re-run next round
    # would have clobbered the committed artifact, the same mistake
    # class as the r06 BENCH_FULL overwrite). Same single source of
    # round truth as bench.py: the driver contract's CORRECTNESS scan.
    import __spark_entry__ as _entry

    rno = _entry._next_round()
    out = REPO / f"SCALE_SMOKE_r{rno:02d}.json"
    out.write_text(json.dumps(results, indent=1, sort_keys=True) + "\n")
    print(f"\nwritten: {out}")
    spark.stop()


if __name__ == "__main__":
    main()
