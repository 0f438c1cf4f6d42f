"""Benchmark runner: executes the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a checksum aggregate over EVERY output
column (bit_xor of xxhash64 across rows) — count() would let Catalyst
prune unevaluated projection expressions, timing projection-heavy
queries without their per-row work. One scalar returns to the driver.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

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


# Machine stamp: BENCH_FULL_r14 holds the 8-core leg of a round whose
# driver headline came from 32 cores, because records carried no core
# count and the last writer won. Records are compared (retry baseline,
# canary floors) and overwritten only between runs with the same stamp.
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


# Outlier retry protocol (r10 verdict task 4, widened r11): the r10
# closing record regressed 38% raw purely because the sandbox degraded
# mid-run (canary slowdown 1.574) — every outlier cold-exonerated
# afterwards, but adjudicating 4-5 queries by hand each round is toil.
# Rule: any query reading > RETRY_FACTOR x its prior committed record
# value re-runs ONCE (worst ratio first, wall-clock-budgeted to bound
# added time on a hosed machine); the record keeps the min
# and stamps BOTH readings under "retries" so the artifact is
# self-adjudicating. The retries fire REGARDLESS of the canary: the
# r11 twin evidence showed bursty contention inflating individual
# queries 3-4.6x while all three canary checkpoints read clean
# (slowdown 1.0, floor at the machine's committed history), so a
# canary gate would sleep through exactly the windows that need
# adjudication. A reproducing slowdown (real plan regression) survives
# the min — both readings read high and the record still shows it.
# The canary verdict (window_degraded) is kept as a forensic stamp on
# the record, not as a retry gate.
# r12 (verdict r11 task 3): the r11 closing record hit the fixed
# 12-retry cap exactly, so a 13th outlier on a badly degraded window
# would have gone unadjudicated (its inflated first reading standing
# as the record value with no stamp). The count cap is gone: EVERY
# >2x outlier is owed a retry, worst ratio first, bounded instead by
# a wall-clock budget on the retries themselves (r11's 12 retries
# cost ~30s total, so 240s covers any realistic saturated window)
# with a floor of RETRY_MIN_COUNT retries that always run no matter
# how slow the hosed machine makes each one. Outliers the budget
# can't reach are still STAMPED (first reading + "skipped": reason)
# so the artifact shows they went unadjudicated rather than silently
# standing as clean readings.
DEGRADED_SLOWDOWN = 1.3
DEGRADED_FLOOR_FACTOR = 1.5
RETRY_FACTOR = 2.0
RETRY_MIN_COUNT = 12
RETRY_BUDGET_SEC = 240.0


RETRY_LOOKBACK = 3


def _git(repo: pathlib.Path, *args: str) -> str | None:
    """stdout of a git command in ``repo``, or None when git can't
    answer (not a repo / binary missing / non-zero exit)."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", str(repo), *args],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout if out.returncode == 0 else None


def _qualifying_records(
    repo: pathlib.Path, rno: int, sf: str, stamp: dict | None = None
) -> list[tuple[int, dict]]:
    """COMMITTED BENCH_FULL_r{K}.json records with K < rno, a matching
    scale factor, a queries dict and exactly this machine ``stamp``,
    newest first. A record written before stamping matches only
    ``stamp=None``: it cannot say which core count it ran on. In a git
    repo the content comes from `git show HEAD:<name>` over the `git
    ls-files` set — an untracked leftover, a staged-but-uncommitted
    file, or uncommitted modifications to a tracked record (e.g. an
    in-round twin run overwriting the committed record) can never feed
    the retry baseline or the canary floors, which are defined over
    committed history (ADVICE r11 + review r12). When git is
    unavailable — unit tests in a tmp dir — every readable
    working-tree record is a candidate."""
    ls = _git(repo, "ls-files", "--", "BENCH_FULL_r*.json")
    tracked = (
        None
        if ls is None
        else {line.strip() for line in ls.splitlines() if line.strip()}
    )
    recs: list[tuple[int, dict]] = []
    for p in repo.glob("BENCH_FULL_r*.json"):
        if tracked is not None:
            if p.name not in tracked:
                continue
            text = _git(repo, "show", f"HEAD:{p.name}")
            if text is None:  # tracked but not in HEAD: not committed
                continue
        else:
            try:
                text = p.read_text()
            except OSError:
                continue
        try:
            k = int(p.stem.removeprefix("BENCH_FULL_r"))
            loaded = json.loads(text)
        except ValueError:
            continue
        if (
            k < rno
            and isinstance(loaded, dict)
            and str(loaded.get("sf")) == sf
            and isinstance(loaded.get("queries"), dict)
            and record_stamp(loaded) == stamp
        ):
            recs.append((k, loaded))
    recs.sort(key=lambda kr: -kr[0])
    return recs


def load_prior_record(repo: pathlib.Path, rno: int, sf: str) -> dict:
    """Most recent qualifying record (naming: BENCH_FULL_r{N} holds
    the r{N-1} closing run, so the previous round's record is
    K = rno - 1 when present). Returns the whole record dict
    (queries + canary) or {} when none qualifies."""
    recs = load_prior_records(repo, rno, sf, lookback=1)
    return recs[0] if recs else {}


def load_prior_records(
    repo: pathlib.Path,
    rno: int,
    sf: str,
    *,
    lookback: int = RETRY_LOOKBACK,
    stamp: dict | None = None,
) -> list[dict]:
    """The last ``lookback`` qualifying records, newest first — the
    canary-floor comparisons (window_degraded, normalized_headline)
    read the MIN floor across these, and baseline_from_records the
    per-query min, mirroring each other's anti-masking rationale: a
    single degraded prior record must not inflate the thresholds
    (ADVICE r11). main() scans once and derives everything from the
    returned list."""
    recs = _qualifying_records(repo, rno, sf, stamp)
    return [rec for _, rec in recs[:lookback]]


def baseline_from_records(records: list[dict]) -> dict[str, float]:
    """Per-query MIN across the given committed records — the honest
    retry threshold base. Contention only ever ADDS time, so the min
    of recent committed readings is the best available cold floor;
    using the latest record alone would let a degraded prior (e.g.
    the r10 closing record, suite readings up to 5x cold) raise the
    >2x thresholds and silence exactly the retries the next round
    needs. Returns {} when no record qualifies — retries then simply
    don't fire."""
    baseline: dict[str, float] = {}
    for rec in records:
        for n, v in rec.get("queries", {}).items():
            if isinstance(v, (int, float)) and (
                n not in baseline or v < baseline[n]
            ):
                baseline[n] = float(v)
    return baseline


def retry_baseline(
    repo: pathlib.Path,
    rno: int,
    sf: str,
    *,
    lookback: int = RETRY_LOOKBACK,
    stamp: dict | None = None,
) -> dict[str, float]:
    """baseline_from_records over the last ``lookback`` qualifying
    records (one-call convenience; main() derives the same from its
    single load_prior_records scan)."""
    return baseline_from_records(
        load_prior_records(repo, rno, sf, lookback=lookback, stamp=stamp)
    )


def _session_canary_floor(canary: dict) -> float | None:
    """min(start, mid, end) — the same session floor bench_compare
    normalizes by (the JIT-warm minimum contention can only push UP)."""
    pts = [
        canary.get(k)
        for k in ("start", "mid", "end")
        if isinstance(canary.get(k), (int, float))
    ]
    return min(pts) if pts else None


def _prior_canary_floor(prior_records: dict | list[dict]) -> float | None:
    """MIN session-canary floor across the given committed records
    (a single record dict is accepted for convenience). The min, not
    the latest: a degraded prior record inflates its own floor, and
    comparing against it alone would silence the uniform-contention
    stamp — the same masking problem retry_baseline fixes for query
    timings (ADVICE r11)."""
    if isinstance(prior_records, dict):
        prior_records = [prior_records] if prior_records else []
    floors = [
        f
        for rec in prior_records
        if (f := _session_canary_floor(rec.get("canary") or {})) is not None
    ]
    return min(floors) if floors else None


def window_degraded(
    canary: dict,
    prior_records: dict | list[dict],
    *,
    slowdown_limit: float = DEGRADED_SLOWDOWN,
    floor_factor: float = DEGRADED_FLOOR_FACTOR,
) -> bool:
    """True when the contention canary says this run's window was
    degraded. Two independent signals (code-review r11 closed the gap
    the second covers): (a) mid/end drifted above start — load arrived
    DURING the run (the r10 signature, slowdown 1.574); (b) this
    session's canary floor sits far above the best committed floor
    over the last RETRY_LOOKBACK records — UNIFORM whole-run
    contention, which the slowdown ratio is structurally blind to
    because all three checkpoints are equally elevated. Committed
    history on this machine class floors at ~0.11-0.14 s and
    cross-session drift reads ~1.1-1.25x, so >1.5x is contention, not
    machine lottery."""
    if canary.get("slowdown", 0) > slowdown_limit:
        return True
    this_floor = _session_canary_floor(canary)
    prior_floor = _prior_canary_floor(prior_records)
    return (
        this_floor is not None
        and prior_floor is not None
        and prior_floor > 0
        and this_floor / prior_floor > floor_factor
    )


def normalized_headline(
    total: float, canary: dict, prior_records: dict | list[dict]
) -> float | None:
    """headline x prior_floor / this_floor — the canary-normalized
    headline (verdict r11 stretch 7). Four rounds of twin protocol
    showed the raw suite number whipsaws with sandbox contention while
    the canary-floor-normalized number stays flat; stamping it IN the
    record ends the per-round manual re-derivation. prior_floor is the
    min over the last RETRY_LOOKBACK committed records (same basis as
    window_degraded signal b). None when either floor is unavailable —
    consumers must fall back to the raw headline."""
    this_floor = _session_canary_floor(canary)
    prior_floor = _prior_canary_floor(prior_records)
    if (
        this_floor is None
        or prior_floor is None
        or this_floor <= 0
        or prior_floor <= 0  # corrupt record: 0.0 floor would stamp a
        # "100% speedup" — fall back to None, same guard window_degraded has
    ):
        return None
    return round(total * prior_floor / this_floor, 3)


# The driver keeps only a bounded capture of this process's stdout and
# json-parses the LAST line to build its BENCH/PERF artifacts. The r11
# closing line — full_suite (158 entries) + 12 per-query retry stamps,
# ~9 KB — outgrew that capture and parsed as null, so the driver's
# round-over-round PERF table was empty for two rounds (r12 verdict
# task 2). The printed line is therefore capped: per-query retry stamps
# and the full-suite dict live ONLY in the committed BENCH_FULL record
# (which write_full_record persists with indent=0 before the line is
# printed; log_retries puts the stamps on stderr when no record is
# written); stdout carries the contract keys, the headline per-query
# dict, summary scalars, and counts. stdout_record() is pure so the
# unit battery can pin the worst-case line size.
STDOUT_LINE_BUDGET = 4096


def retry_summary(retried: dict[str, dict]) -> dict:
    """Counts only — the per-query {first, retry/skipped/error} stamps
    go to the BENCH_FULL record, or to stderr (log_retries) when no
    record is written, as in headline mode."""
    return {
        "n": len(retried),
        "kept_min": sum(1 for r in retried.values() if "retry" in r),
        "skipped": sum(1 for r in retried.values() if "skipped" in r),
        "errored": sum(1 for r in retried.values() if "error" in r),
    }


def log_retries(
    retried: dict[str, dict], canary: dict, persisted: bool
) -> None:
    """Account for the outlier retries on stderr. When no BENCH_FULL
    record holds the per-query stamps — headline mode writes none, and
    write_full_record may refuse — the whole ``retried`` dict is
    printed as one JSON line, so the stamps are never lost."""
    if not retried:
        return
    n_skipped = sum(1 for r in retried.values() if "skipped" in r)
    n_err = sum(1 for r in retried.values() if "error" in r)
    where = "under 'retries'" if persisted else "below"
    print(
        f"bench: adjudicated {len(retried)} queries >{RETRY_FACTOR}x "
        f"their prior record (canary slowdown {canary.get('slowdown')}, "
        f"window_degraded={canary.get('window_degraded')}; "
        f"{n_skipped} budget-skipped, {n_err} errored), kept min; "
        f"all readings stamped {where}",
        file=sys.stderr,
    )
    if not persisted:
        print(json.dumps({"retries": retried}, sort_keys=True), file=sys.stderr)


def stdout_record(
    timings: dict[str, float],
    sf: str,
    canary: dict,
    retried: dict[str, dict],
    *,
    full_total: float | None = None,
    headline_norm: float | None = None,
) -> dict:
    """The ONE printed JSON line. Key ORDER matters: the driver's BENCH
    artifact also keeps a short TAIL of stdout for display (round-4
    verdict: the headline number was swallowed by the full-suite dict),
    so the big per-query dict goes FIRST and every scalar summary LAST.
    Size matters more (r12 verdict task 2): no full_suite dict, no
    per-query retry stamps, no canary raw triples — those live in the
    committed BENCH_FULL record. Worst case stays under
    STDOUT_LINE_BUDGET (pinned by test_stdout_record_*)."""
    record: dict = {"queries": timings}
    record["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
    record["canary"] = {k: v for k, v in canary.items() if k != "raw"}
    if retried:
        record["retries"] = retry_summary(retried)
    record["unit"] = "sec"
    if full_total is not None:
        record["full_suite_seconds"] = full_total
    record["metric"] = "headline_suite_seconds"
    if headline_norm is not None:
        record["headline_normalized"] = headline_norm
    total = round(sum(timings.values()), 3)
    record["headline_suite_seconds"] = total
    record["value"] = total
    return record


def retry_plan(
    current: dict[str, float],
    prior: dict[str, float],
    *,
    retry_factor: float = RETRY_FACTOR,
    cap: int | None = None,
) -> list[str]:
    """Names owed a second reading: EVERY query > retry_factor x its
    prior committed reading, worst ratio first (protocol rationale in
    the module comment above — the r12 protocol bounds added wall via
    apply_retries' wall-clock budget, not a count cap; ``cap`` remains
    for tests). Pure so tests can exercise the protocol without a
    Spark session."""
    flagged = [
        (t / prior[n], n)
        for n, t in current.items()
        if n in prior and prior[n] > 0 and t > retry_factor * prior[n]
    ]
    flagged.sort(key=lambda p: (-p[0], p[1]))
    return [n for _, n in flagged[:cap]]


def apply_retries(
    time_queries,
    names: list[str],
    full: dict[str, float],
    timings: dict[str, float],
    *,
    budget_sec: float = RETRY_BUDGET_SEC,
    min_count: int = RETRY_MIN_COUNT,
    clock=time.perf_counter,
) -> dict[str, dict]:
    """Re-run each flagged query ONCE via ``time_queries``, stamp both
    readings, and keep the min in ``full`` (and in ``timings`` when
    the name is a headline query, so the headline total recomputes
    from the min). Extracted from main() so the unit battery exercises
    the REAL stamping logic, not a transcription of it (review r11).

    r12 bounds (verdict r11 task 3): retries run worst-first until the
    wall-clock budget is spent, with the first ``min_count`` always
    running regardless (the r11-cap behavior is the floor, never less
    adjudication than before). Budget-exhausted names are stamped
    {"first": x, "skipped": "retry budget exhausted"} so unadjudicated
    outliers are visible in the artifact. A retry that THROWS (ADVICE
    r11, medium: most likely on exactly the hosed machine the protocol
    targets) keeps the first reading, stamps the error, and continues
    — the record is always written."""
    retried: dict[str, dict] = {}
    t_start = clock()
    for done, name in enumerate(names):
        if done >= min_count and clock() - t_start >= budget_sec:
            retried[name] = {
                "first": full[name],
                "skipped": "retry budget exhausted",
            }
            continue
        try:
            second = time_queries([name])[name]
        except Exception as exc:  # noqa: BLE001 — stamp, never crash
            retried[name] = {
                "first": full[name],
                "error": f"{type(exc).__name__}: {exc}",
            }
            continue
        retried[name] = {"first": full[name], "retry": second}
        full[name] = min(full[name], second)
        if name in timings:
            timings[name] = full[name]
    return retried


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/session so first-query timing isn't dominated by
    # one-time costs that say nothing about operator throughput: one
    # bench-scale scan (executor startup), then smoke-scale (sf0.001)
    # passes over one query per plan family — codegen + JIT for the
    # join/window/HOF/explode paths compile once here instead of
    # inside the first heavy query's measurement.
    REGISTRY["tpch_q1_pricing_summary"].fn(spark, sf_dir).count()
    warm_sf = "/root/testdata/sf0.001"
    for warm_q in (
        "dedup_minhash_lsh",        # shingle explode + band join + verify
        "tpch_q3_shipping_priority",  # broadcast star + agg + top-k
        "orders_top3_per_customer",   # window rank
    ):
        REGISTRY[warm_q].fn(spark, warm_sf).count()
    # Warm the Python worker pool (one pandas/pyarrow import per core,
    # two layers deep — rationale in session.warm_python_worker_pool):
    # Arrow-UDF stages otherwise pay ~8s of one-time fork+import cost
    # that says nothing about operator throughput.
    from mit6_5840_6_824_lab1_mapreduce_spark.session import (
        warm_python_worker_pool,
    )

    warm_python_worker_pool(spark)

    from pyspark.sql import functions as F

    def _force(df):
        """Evaluate every output column: xxhash64 over all columns per
        row, xor-folded — nothing can be pruned, one scalar collected.
        (XOR cancels rows whose hash repeats an even number of times,
        so the scalar is a forcing device, not a cross-run checksum.)"""
        h = df.select(F.xxhash64(*df.columns).alias("_h"))
        return h.agg(F.bit_xor("_h")).collect()[0][0]

    import gc

    # Contention canary (judge r06): a fixed JVM-only workload — no
    # I/O, no Python workers, no shuffle — timed at suite start,
    # middle, and end. The driver's r06 run carried 5–14× per-query
    # outliers that only a manual cold re-measure could adjudicate as
    # sandbox contention; the canary makes the artifact
    # self-identifying. Calibration (round 7, idle machine): a single
    # reading swings 0.11–0.60 s from C2 JIT tier-up (first ~4 runs
    # descend monotonically) and GC pauses, so each checkpoint is the
    # MIN OF 3 runs after 5 untimed warm-ups. Even then JIT keeps
    # tiering through the suite (the committed clean r07 run reads
    # start 0.203 / mid 0.150 / end 0.120 — raw spread 1.69 with the
    # LATER readings faster), so the contention rule is the SIGNED
    # ratio below: slowdown = max(mid, end) / start. slowdown > ~1.5
    # = load arrived during the run (min-of-3 sheds GC/scheduler
    # one-offs but cannot hide busy cores); slowdown ≤ 1 = healthy
    # JIT drift. spread is recorded as raw dispersion only — it
    # CANNOT distinguish drift from contention. Uniform whole-run
    # contention shows as all three mins elevated vs the committed
    # history of this machine class (~0.1–0.2 s steady state). Raw
    # triples recorded for forensics.
    def _canary_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 400_000_000, 1, 32).select(
            F.xxhash64("id").alias("_h")
        ).agg(F.bit_xor("_h")).collect()
        return round(time.perf_counter() - t0, 3)

    for _ in range(5):  # untimed: codegen compile + C2 tier-up
        _canary_once()
    canary_raw: dict[str, list[float]] = {}

    def _canary(point: str) -> float:
        canary_raw[point] = [_canary_once() for _ in range(3)]
        return min(canary_raw[point])

    canary: dict = {"start": _canary("start")}

    def _time_queries(names) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            # Cache hygiene: queries persist() small intermediates
            # internally; clear between queries so no timing borrows a
            # predecessor's cache (numbers must be ordering-stable).
            # gc.collect() additionally releases localCheckpoint RDDs
            # (held until their Python DataFrame is collected), so
            # late-running queries don't pay for dozens of earlier
            # queries' accumulated checkpoint blocks.
            spark.catalog.clearCache()
            gc.collect()
            # Worker-pool hygiene (full rationale + measurements in
            # session.warm_python_worker_pool): re-warm before EVERY
            # timed query, outside the timed region, so an Arrow-stage
            # query following >60s of JVM-only queries doesn't pay
            # fork+pandas-import per core inside its timing window.
            # Deliberately unconditional (round-6 review weighed a
            # Python-stage allowlist): a warm-pool warm costs ~0.1-0.2s
            # of untimed wall — ~30s across the suite — while an
            # allowlist that rots reintroduces the 6.5-12.4s per-query
            # artifact this fixed; recorded timings are unaffected
            # either way.
            warm_python_worker_pool(spark)
            fn = REGISTRY[name].fn
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            out[name] = round(time.perf_counter() - t0, 3)
        return out

    # HEADLINE times first (stable round-over-round comparison), then
    # — unless SPARK_GRAFT_BENCH_MODE=headline — the rest of the
    # registry, so every registered query has a timing on record.
    timings = _time_queries(HEADLINE)
    canary["mid"] = _canary("mid")
    full: dict[str, float] = dict(timings)
    if os.environ.get("SPARK_GRAFT_BENCH_MODE", "full") != "headline":
        full.update(_time_queries([n for n in REGISTRY if n not in timings]))
    canary["end"] = _canary("end")
    mins = [canary["start"], canary["mid"], canary["end"]]
    canary["spread"] = round(max(mins) / max(min(mins), 1e-9), 3)
    # The contention rule (see the calibration comment above):
    canary["slowdown"] = round(
        max(canary["mid"], canary["end"]) / max(canary["start"], 1e-9), 3
    )
    canary["raw"] = canary_raw

    # Outlier retries (rule + rationale in the module comment above
    # retry_plan). Run AFTER the end canary so the slowdown reading
    # reflects the suite as timed; the retry readings land in the same
    # record under "retries" with both values. Protocol tests exercise
    # this live by pointing SPARK_GRAFT_BENCH_PRIOR at a fabricated
    # prior with tiny readings.
    import __spark_entry__ as _entry

    repo = pathlib.Path(__file__).resolve().parent
    rno = _entry._next_round()
    stamp = run_stamp(spark)
    prior_recs = load_prior_records(repo, rno, sf, stamp=stamp)  # ONE scan
    prior = baseline_from_records(prior_recs)
    prior_env = os.environ.get("SPARK_GRAFT_BENCH_PRIOR")
    if prior_env:
        # Test-only override (replaces both the baseline and the
        # canary records); guarded so a bad path/file can never crash
        # AFTER the whole timed suite (the r07 failure class
        # write_full_record was hardened against — review r11).
        try:
            loaded = json.loads(pathlib.Path(prior_env).read_text())
            if isinstance(loaded, dict) and isinstance(
                loaded.get("queries"), dict
            ):
                prior_recs = [loaded]
                prior = loaded["queries"]
            else:
                raise ValueError("no queries dict")
        except (OSError, ValueError) as exc:
            print(
                f"bench: ignoring SPARK_GRAFT_BENCH_PRIOR={prior_env!r}"
                f" ({exc}); falling back to the committed prior",
                file=sys.stderr,
            )
    # Forensic stamp only — never gates the retries (see module comment).
    canary["window_degraded"] = window_degraded(canary, prior_recs)
    retried = apply_retries(
        _time_queries, retry_plan(full, prior), full, timings
    )

    total = round(sum(timings.values()), 3)
    headline_norm = normalized_headline(total, canary, prior_recs)
    # Persist the COMPLETE per-query dict to a committed file: the
    # driver's BENCH artifact keeps only a 2000-char tail of stdout,
    # which truncates ~90 of the full-suite timings — regressions
    # like r05's profile_orders_columns drift were only auditable by
    # re-running (round-5 verdict task 3). Named for the round the
    # driver is about to record (max CORRECTNESS round + 1).
    persisted = False
    if len(full) > len(timings):
        # Round discovery lives in ONE place: the driver contract's
        # CORRECTNESS scan (code-review r06 — a second glob+regex copy
        # here could silently diverge from the contract's naming);
        # repo/rno were computed once above, before the retry pass.
        persisted = write_full_record(
            repo / f"BENCH_FULL_r{rno:02d}.json",
            sf,
            {
                "sf": sf,
                **stamp,
                "canary": canary,
                "retries": retried,
                "headline_suite_seconds": total,
                "headline_normalized": headline_norm,
                "full_suite_seconds": round(sum(full.values()), 3),
                "queries": full,
            },
        )
    log_retries(retried, canary, persisted)
    # Shape + size rationale on stdout_record above (r12 verdict task
    # 2): full per-query detail is already persisted in BENCH_FULL.
    record = stdout_record(
        timings,
        sf,
        canary,
        retried,
        full_total=(
            round(sum(full.values()), 3) if len(full) > len(timings) else None
        ),
        headline_norm=headline_norm,
    )
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
