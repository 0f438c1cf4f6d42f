"""Benchmark runner: executes the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a checksum aggregate over EVERY output
column (bit_xor of xxhash64 across rows) — count() would let Catalyst
prune unevaluated projection expressions, timing projection-heavy
queries without their per-row work. One row returns to the driver.

Each timed query also gets a host stamp ``{"steal_s", "other_cpu_s"}``
(``host_stamp``): the CPU time the hypervisor and processes outside
the bench's own process tree took while that query was timed. The
full run writes every reading and its stamp to
``BENCH_FULL_r{NN}.json``; the printed line carries the suite totals.

The timing harness — ``force``, ``warm_up``, ``reset`` and
``time_query`` — is shared with ``tools/time_queries.py``,
``tools/cold_isolate.py``, ``tools/scale_smoke.py`` and
``tools/scale_verify.py``, so every timing tool measures the program
this bench measures.
"""

from __future__ import annotations

import gc
import json
import os
import pathlib
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
from mit6_5840_6_824_lab1_mapreduce_spark.session import (
    get_spark,
    warm_python_worker_pool,
)

# Headline set: the scan/join/window/dedup/similarity workhorses.
# (Excludes probe-scale queries whose cost is negligible either way.)
HEADLINE = [
    "wc_wordcount",
    "indexer_inverted_index",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customers",
    "sales_rollup",
    "nation_trade_volume",
    "monthly_return_share",
    "orders_top3_per_customer",
    "supplier_part_distinct_count",
    "events_hourly_agg",
    "events_sessionization",
    "events_asof_last_purchase",
    "events_error_click_window",
    "docs_cube_stats",
    "late_shipment_priority",
    "kv_final_state",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "dedup_minhash_components",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "similarity_topk_bruteforce",
    "similarity_topk_batch",
    "similarity_ann_lsh",
    "similarity_ivf_topk",
    "similarity_lsh_near_pairs",
    "dedup_embedding_cosine",
    "pipeline_clean_corpus",
    "decontam_drop_list",
    "embedding_kmeans_centroids",
    "text_quality_score",
    "text_fingerprint",
    "multimodal_frame_sample",
    "multimodal_feature_extract",
    "tpch_q4_order_priority",
    "tpch_q8_market_share",
    "tpch_q9_nation_profit",
    "tpch_q14_promo_revenue",
    "tpch_q19_discounted_revenue",
    "text_boilerplate_fraction",
    "ngram_topk_per_source",
    "corpus_pack_sequences",
    "corpus_sample_temperature",
    "dedup_passage_blocks",
    "tokenizer_bpe_merges",
    "decontam_bloom_prefilter",
    "corpus_leakage_safe_split",
]


def force(df) -> tuple[int, int | None]:
    """Evaluate every output column and return ``(rows, xor)``:
    xxhash64 over all columns per row, xor-folded, with the row count
    in the same aggregate — nothing can be pruned, one row collected.
    (XOR cancels rows whose hash repeats an even number of times, so
    ``xor`` is a forcing device, not a cross-run checksum; it is None
    for an empty frame.)"""
    h = df.select(F.xxhash64(*df.columns).alias("_h"))
    rows, xor = h.agg(F.count(F.lit(1)), F.bit_xor("_h")).collect()[0]
    return rows, xor


def warm_up(spark, sf_dir: str, names) -> None:
    """Pay one-time costs that say nothing about operator throughput
    before anything is timed: one ``sf_dir``-scale scan (executor
    startup), then each of ``names`` at the smallest sibling scale
    (``sfX.Y`` -> ``sf0.001`` next to it, or ``sf_dir`` itself when no
    such sibling exists) for codegen/JIT, then the Python worker pool
    (one pandas/pyarrow import per core, two layers deep — rationale in
    session.warm_python_worker_pool): Arrow-UDF stages otherwise pay
    ~8 s of one-time fork+import cost."""
    REGISTRY["tpch_q1_pricing_summary"].fn(spark, sf_dir).count()
    warm = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    for name in names:
        REGISTRY[name].fn(spark, warm if os.path.isdir(warm) else sf_dir).count()
    warm_python_worker_pool(spark)


def reset(spark) -> None:
    """Between-query hygiene, run outside every timed region.

    Cache: queries persist() small intermediates internally; clear
    between queries so no timing borrows a predecessor's cache
    (numbers must be ordering-stable). gc.collect() additionally
    releases localCheckpoint RDDs (held until their Python DataFrame
    is collected), so late-running queries don't pay for dozens of
    earlier queries' accumulated checkpoint blocks.

    Worker pool (full rationale + measurements in
    session.warm_python_worker_pool): re-warm before EVERY timed
    query, so an Arrow-stage query following >60 s of JVM-only queries
    doesn't pay fork+pandas-import per core inside its timing window.
    Deliberately unconditional (round-6 review weighed a Python-stage
    allowlist): a warm-pool warm costs ~0.1-0.2 s of untimed wall —
    ~30 s across the suite — while an allowlist that rots reintroduces
    the 6.5-12.4 s per-query artifact this fixed."""
    spark.catalog.clearCache()
    gc.collect()
    warm_python_worker_pool(spark)


def host_sample() -> tuple[list[int], int]:
    """``(cpu, tree)`` clock ticks since boot: ``cpu`` is the first
    (all-CPU) line of ``/proc/stat``, ``tree`` the
    ``utime+stime+cutime+cstime`` of this process and every descendant
    in ``/proc/<pid>/stat`` — the driver, the Spark JVM, the Python
    worker daemon and its workers. A descendant that exits and is
    reaped inside the window moves into its parent's ``cutime``, so the
    tree delta still counts it."""
    first = pathlib.Path("/proc/stat").read_text().split("\n", 1)[0]
    cpu = [int(x) for x in first.split()[1:]]
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in pathlib.Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            f = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:  # exited since the listing
            continue
        kids.setdefault(int(f[1]), []).append(int(d.name))
        ticks[int(d.name)] = sum(int(x) for x in f[11:15])
    tree, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        tree += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return cpu, tree


def host_stamp(
    before: tuple[list[int], int],
    after: tuple[list[int], int],
    hz: int = os.sysconf("SC_CLK_TCK"),
) -> dict[str, float]:
    """Host contention between two ``host_sample``s, in CPU seconds:
    ``steal_s`` is the time the hypervisor ran something else on this
    machine's CPUs; ``other_cpu_s`` is the machine's busy CPU time
    (user+nice+system+irq+softirq) minus this process tree's — what
    processes outside the bench took. ``/proc/stat`` counts whole ticks
    per CPU, so an idle window reads a few hundredths either side of 0."""
    d = [b - a for a, b in zip(before[0], after[0])]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {
        "steal_s": round(d[7] / hz, 2),
        "other_cpu_s": round((busy - (after[1] - before[1])) / hz, 2),
    }


def time_query(spark, name: str, sf_dir: str) -> tuple[float, int, dict]:
    """``reset``, then ``(seconds, rows, host)`` of building query
    ``name`` at ``sf_dir`` and forcing it, where ``host`` is the
    ``host_stamp`` of that timed region alone."""
    reset(spark)
    before = host_sample()
    t0 = time.perf_counter()
    rows, _ = force(REGISTRY[name].fn(spark, sf_dir))
    sec = time.perf_counter() - t0
    return sec, rows, host_stamp(before, host_sample())


# Machine stamp: BENCH_FULL_r14 once held the 8-core leg of a round
# whose driver headline came from 32 cores, because records carried no
# core count and the last writer won. A record is overwritten only by a
# run with the same stamp, and tools/bench_compare.py warns when two
# records' stamps differ.
STAMP_KEYS = ("cpus", "pyspark", "python")


def run_stamp(spark) -> dict:
    """This run's machine stamp: the session's core count
    (defaultParallelism) and the pyspark and Python versions."""
    import platform

    import pyspark

    return {
        "cpus": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def record_stamp(rec: dict) -> dict | None:
    """The machine stamp a record carries, or None for a record written
    before records were stamped."""
    stamp = {k: rec.get(k) for k in STAMP_KEYS}
    return stamp if any(v is not None for v in stamp.values()) else None


def write_full_record(out_path: pathlib.Path, sf: str, payload: dict) -> bool:
    """Persist the full per-query record — UNLESS a record already
    exists at a different scale factor (judge r06: an sf0.01
    driver-sim env leaked into a bench run and clobbered the
    committed sf0.1 record, breaking the round-over-round full-bench
    diff) or with a different machine stamp (an 8-core leg must not
    replace a 32-core record). Returns True when written."""
    # A record that cannot testify to its sf — unreadable, non-dict
    # JSON, or a dict without the key — is treated as ABSENT (replace
    # it), never as a permanent refusal (review r07: .get on a parsed
    # non-dict raised AFTER the whole timed suite had run). An
    # unstamped record likewise cannot testify to its machine.
    prior: dict = {}
    if out_path.exists():
        try:
            loaded = json.loads(out_path.read_text())
        except (OSError, ValueError):
            loaded = None
        if isinstance(loaded, dict):
            prior = loaded
    clashes = []
    if prior.get("sf") is not None and str(prior["sf"]) != sf:
        clashes.append(f"existing sf={prior['sf']}, this run sf={sf}")
    prior_stamp, stamp = record_stamp(prior), record_stamp(payload)
    if prior_stamp is not None and prior_stamp != stamp:
        clashes.append(f"existing stamp {prior_stamp}, this run {stamp}")
    if clashes:
        print(
            f"bench: REFUSING to overwrite {out_path.name} "
            f"({'; '.join(clashes)}) — full timings not persisted",
            file=sys.stderr,
        )
        return False
    out_path.write_text(
        json.dumps(payload, indent=0, sort_keys=True) + "\n"
    )
    return True


# The driver keeps only a bounded capture of this process's stdout and
# json-parses the LAST line to build its BENCH/PERF artifacts. The r11
# closing line — a 158-entry full-suite dict plus per-query stamps,
# ~9 KB — outgrew that capture and parsed as null, so the driver's
# round-over-round PERF table was empty for two rounds (r12 verdict
# task 2). The printed line is therefore capped: the full-suite dict
# and the per-query host stamps live ONLY in the committed BENCH_FULL
# record (written with indent=0 before the line is printed); stdout
# carries the contract keys, the headline per-query dict and summary
# scalars. stdout_record() is pure so the unit battery can pin the
# worst-case line size.
STDOUT_LINE_BUDGET = 4096


def stdout_record(
    timings: dict[str, float],
    sf: str,
    host: dict[str, float],
    *,
    full_total: float | None = None,
) -> dict:
    """The ONE printed JSON line. Key ORDER matters: the driver's BENCH
    artifact also keeps a short TAIL of stdout for display (round-4
    verdict: the headline number was swallowed by the full-suite dict),
    so the big per-query dict goes FIRST and every scalar summary LAST.
    ``host`` holds the suite totals of the per-query host stamps. Worst
    case stays under STDOUT_LINE_BUDGET (pinned by test_stdout_record_*)."""
    record: dict = {"queries": timings}
    record["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
    record["unit"] = "sec"
    if full_total is not None:
        record["full_suite_seconds"] = full_total
    record["metric"] = "headline_suite_seconds"
    record.update(host)
    total = round(sum(timings.values()), 3)
    record["headline_suite_seconds"] = total
    record["value"] = total
    return record


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # One smoke-scale query per plan family: codegen + JIT for the
    # join/window/HOF/explode paths compile here instead of inside the
    # first heavy query's measurement.
    warm_up(spark, sf_dir, (
        "dedup_minhash_lsh",          # shingle explode + band join + verify
        "tpch_q3_shipping_priority",  # broadcast star + agg + top-k
        "orders_top3_per_customer",   # window rank
    ))

    # Each reading carries what the host and other processes took
    # while it was timed. A high stamp is NOT re-run here: a record
    # never mixes single readings with best-of-N ones, and
    # tools/cold_isolate.py re-measures a suspect query in a fresh
    # process.
    hosts: dict[str, dict] = {}

    def _time_queries(names) -> dict[str, float]:
        out = {}
        for n in names:
            sec, _, hosts[n] = time_query(spark, n, sf_dir)
            out[n] = round(sec, 3)
        return out

    # HEADLINE times first (stable round-over-round comparison), then
    # — unless SPARK_GRAFT_BENCH_MODE=headline — the rest of the
    # registry, so every registered query has a timing on record.
    timings = _time_queries(HEADLINE)
    full: dict[str, float] = dict(timings)
    if os.environ.get("SPARK_GRAFT_BENCH_MODE", "full") != "headline":
        full.update(_time_queries([n for n in REGISTRY if n not in timings]))
    total = round(sum(timings.values()), 3)
    full_total = round(sum(full.values()), 3) if len(full) > len(timings) else None
    host_totals = {
        k: round(sum(h[k] for h in hosts.values()), 2)
        for k in ("steal_s", "other_cpu_s")
    }
    # Persist the COMPLETE per-query dict to a committed file: the
    # driver's BENCH artifact keeps only a 2000-char tail of stdout,
    # which truncates ~90 of the full-suite timings — regressions
    # like r05's profile_orders_columns drift were only auditable by
    # re-running (round-5 verdict task 3). Named for the round the
    # driver is about to record; round discovery lives in ONE place,
    # the driver contract's CORRECTNESS scan (code-review r06).
    if full_total is not None:
        import __spark_entry__ as _entry

        repo = pathlib.Path(__file__).resolve().parent
        write_full_record(
            repo / f"BENCH_FULL_r{_entry._next_round():02d}.json",
            sf,
            {
                "sf": sf,
                **run_stamp(spark),
                **host_totals,
                "headline_suite_seconds": total,
                "full_suite_seconds": full_total,
                "queries": full,
                "host": hosts,
            },
        )
    print(json.dumps(stdout_record(timings, sf, host_totals, full_total=full_total)))
    spark.stop()


if __name__ == "__main__":
    main()
