"""Partitioning-determinism sweep: the repo's determinism contract
says every registered query's OUTPUT is independent of physical
execution — partition count, AQE re-planning, parallelism. The
oracle compare proves Spark-vs-DuckDB agreement at one config; this
sweep proves Spark-vs-Spark agreement across configs, which is what
actually breaks at 100 TB when a cluster resizes or AQE coalesces
differently between runs.

For each registered query, run at the baseline config (the test
harness default: 8 shuffle partitions, AQE on, default broadcast
threshold, whole-stage codegen on) and under perturbed configs
(1 / 31 shuffle partitions; AQE off; auto-broadcast disabled so
every unhinted join becomes sort-merge; codegen off so every
expression runs interpreted), hashing the result exactly as the
driver does (column-name-sorted, row-sorted string hash). Any hash
that moves is a nondeterminism bug of the first()-without-order /
float-sum-ordering / join-strategy-dependent class.

All four knobs are runtime-settable, so one SparkSession serves all
configs. Usage: python tools/determinism_sweep.py [--quick]
(--quick: 1 perturbed config instead of 4).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

_BCAST = "spark.sql.autoBroadcastJoinThreshold"
_CODEGEN = "spark.sql.codegen.wholeStage"
_ARROW = "spark.sql.execution.arrow.maxRecordsPerBatch"
BASELINE = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    _BCAST: "10485760",
    _CODEGEN: "true",
    _ARROW: "10000",
}
PERTURBED = [
    {"spark.sql.shuffle.partitions": "1", "spark.sql.adaptive.enabled": "true",
     _BCAST: "10485760", _CODEGEN: "true"},
    {"spark.sql.shuffle.partitions": "31", "spark.sql.adaptive.enabled": "false",
     _BCAST: "10485760", _CODEGEN: "true"},
    # -1 disables AUTO broadcast: every unhinted join becomes
    # sort-merge/shuffle-hash — catches join-strategy-dependent
    # nondeterminism (explicit broadcast() hints still apply)
    {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "false",
     _BCAST: "-1", _CODEGEN: "true"},
    # codegen off: every expression runs INTERPRETED instead of
    # whole-stage-generated — the evaluation-path differential
    {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "true",
     _BCAST: "10485760", _CODEGEN: "false"},
    # Arrow batch size 3 (round 7, 5th axis): every mapInPandas /
    # applyInPandas stage sees its input chopped into tiny batches —
    # a UDF whose output depends on batch SHAPE (per-batch
    # aggregation, cross-row state inside a batch, first-row
    # assumptions) diverges here. The multimodal decodes and the
    # streaming-shared frames are per-ROW by contract; this proves it.
    {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "true",
     _BCAST: "10485760", _CODEGEN: "true", _ARROW: "3"},
]


def result_hash(pdf) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return hashlib.md5(
        "\n".join(
            sorted("|".join(str(v) for v in r) for r in pdf.itertuples(index=False))
        ).encode()
    ).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true")
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated query names: sweep just these (targeted "
        "re-run after a small edit batch; the round-close "
        "certification must still be the FULL sweep)",
    )
    a = ap.parse_args()
    perturbed = PERTURBED[:1] if a.quick else PERTURBED

    from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
    from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

    audited = REGISTRY
    if a.only:
        only = [n for n in a.only.split(",") if n]
        unknown = sorted(set(only) - set(audited))
        if unknown:
            ap.error(f"--only names not registered/staged: {unknown}")
        audited = {n: audited[n] for n in only}

    spark = get_spark(
        app_name="determinism-sweep", master="local[8]", shuffle_partitions=8
    )

    def run_all(conf: dict) -> dict:
        # Apply the FULL baseline first, then the overrides — a
        # perturbed dict that omits a knob (e.g. the Arrow batch size)
        # must not inherit it from whichever config ran last.
        for k, v in {**BASELINE, **conf}.items():
            spark.conf.set(k, v)
        out = {}
        for name, entry in audited.items():
            spark.catalog.clearCache()
            try:
                out[name] = result_hash(entry.fn(spark, SF).toPandas())
            except Exception as e:  # noqa: BLE001 — triage tool
                out[name] = "ERR: " + "".join(
                    traceback.format_exception_only(type(e), e)
                )[:200]
        gc.collect()
        return out

    base = run_all(BASELINE)
    bad: list[tuple[str, str, str, str]] = []
    for conf in perturbed:
        label = (
            f"parts={conf['spark.sql.shuffle.partitions']},"
            f"aqe={conf['spark.sql.adaptive.enabled']},"
            f"bcast={conf[_BCAST]},codegen={conf[_CODEGEN]},"
            f"arrow={conf.get(_ARROW, BASELINE[_ARROW])}"
        )
        print(f"--- running config {label}", flush=True)
        got = run_all(conf)
        for name, h in got.items():
            if h != base[name]:
                bad.append((name, label, base[name][:16], h[:40]))
    print(f"\n==== DETERMINISM SUMMARY: {len(audited)} queries x "
          f"{len(perturbed)} perturbed configs, {len(bad)} divergent ====")
    for name, label, bh, gh in bad:
        print(f"[DIVERGE] {name} @ {label}: base={bh} got={gh}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
