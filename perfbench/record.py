"""Metric names, their aggregation, the environment stamp and the result
line. Pure functions, so the self-tests need no Spark session."""

from __future__ import annotations

import os
import platform
import re
import statistics
import subprocess

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# name -> unit; every timed run reports all of these in its result line,
# and BENCHMARK.json gives each a bound. setup_s and wall_s leave out
# host steal (see ``unstolen``); wall_s is also at the reference core
# speed (see ``speed_factor``).
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
}
# Printed in the summary and kept in the record, but given no bound.
# item_tail_s, near the largest sample of a run, spread by 0.28 between
# runs of loop_pipeline on a shared 4-vCPU host, above the largest bound
# allowed (0.25); input_mb_per_s is fixed input bytes over wall_s, so a
# bound on it would only judge wall_s a second time. item_p50_s is the
# time of one item, the middle one: in one set of ten mr_corpus runs it
# spread by 0.102 where wall_s, the sum over items, spread by 0.081.
# The *_raw_s values are setup_s, wall_s and item_p50_s as measured,
# with steal and at the run's core speed; probe_ms is the run's median
# probe.
REPORTED = {
    "item_p50_s": "s",
    "item_tail_s": "s",
    "input_mb_per_s": "MB/s",
    "setup_raw_s": "s",
    "wall_raw_s": "s",
    "item_p50_raw_s": "s",
    "probe_ms": "ms",
}

# name -> unit; every traced run reports all of these, as totals per
# traced pass (mean over the traced passes) unless noted.
PER_LAYER = {
    "session.start_s": "s",  # of the run's one set-up
    "session.pool_warm_ms": "ms",  # of the run's one set-up
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.blocked_ms": "ms",  # run minus JVM CPU: includes Python-worker time
    "executor.core_util": "ratio",  # CPU over pass wall x cores
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "shuffle.write_records": "count",
    "sources.input_mb": "MB",
    "sources.output_mb": "MB",
    "operators.mapreduce.map_ms": "ms",
    "operators.mapreduce.map_tasks": "count",
    "operators.mapreduce.reduce_ms": "ms",
    "operators.mapreduce.records_shuffled": "count",
}

# Span names that open each layer of an item.
BUILD_SPANS = ("queries.build", "operators.mapreduce.run_job", "operators.mapreduce.run_job_combining")
PLAN_SPANS = ("spark.plan",)
EXEC_SPANS = ("spark.exec", "sources.write_text_output")

MB = 1e6

# Environment keys two records must share before they are compared.
ENV_KEYS = ("cores", "pyspark", "java", "python")


# The probe's median on the reference box (4-vCPU Xeon VM), in seconds,
# and how strongly item times follow it. A shared host runs its cores
# faster or slower for minutes at a time (turbo, neighbours); a run's
# median probe moved by 35% between runs minutes apart, and its median
# pass by about half as much, since part of an item is waiting that
# does not scale with core speed. Rescaling by the square root of the
# probe ratio took the quartile spread of loop_pipeline's wall_s over
# five runs from 0.125 to 0.060; the plain ratio over-corrects.
PROBE_REF_S = 0.030
PROBE_EXPONENT = 0.5


def speed_factor(probes: list[float]) -> float:
    """Factor that takes a time measured in this run to the reference
    core speed: ``(PROBE_REF_S / median probe) ** PROBE_EXPONENT``."""
    return (PROBE_REF_S / statistics.median(probes)) ** PROBE_EXPONENT


def unstolen(seconds: float, busy_s: float, steal_s: float) -> float:
    """An item's seconds had the host not run something else on this
    machine's CPUs: ``seconds * busy / (busy + steal)``, from the
    machine's busy and steal CPU time while the item ran. Steal accrues
    only while a CPU has work to run, so ``busy / (busy + steal)`` is
    the share of the CPU time asked for that the host gave. In one run
    of loop_pipeline the host took 25% of the CPU time under the items
    and the median pass took 11.9 s against 6.5 s in the runs around
    it; over ten runs with that one among them, the quartile spread of
    wall_s went from 0.49 to 0.15 with this correction."""
    wanted = busy_s + steal_s
    return seconds * busy_s / wanted if wanted > 0 else seconds


TAIL_FLOOR = 90.0  # the tail percentile never drops below this
TAIL_BEYOND = 10  # samples that should lie beyond the tail value


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` for the highest percentile that still
    has ``TAIL_BEYOND`` samples above it, but at least p90.

    A run has tens of items, not hundreds, so below 101 samples the
    ten-beyond rule would pick a percentile under p90 (p33 of 15
    samples, below the median); there the value is p90, interpolated
    between the two nearest samples. The summary prints the percentile
    and the sample count beside the value."""
    xs = sorted(samples)
    n = len(xs)
    pct = max(TAIL_FLOOR, 100.0 * (n - TAIL_BEYOND) / n)
    # Linear interpolation between closest ranks (numpy's default).
    pos = (n - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), round(pct, 1), n


def item_layers(spans: list[dict], counts: dict, is_mr: bool) -> dict[str, float]:
    """Per-layer values of one traced item from its child spans and its
    job group's status-store totals (``layers.StageReader.read``)."""

    def ms(names):
        return 1e3 * sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    split = counts["split"]
    out = {
        "queries.build_ms": ms(BUILD_SPANS),
        "queries.build_jobs": counts["build_jobs"],
        "spark.plan_ms": ms(PLAN_SPANS),
        "spark.exec_ms": ms(EXEC_SPANS),
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
        "spark.task_failures": counts["task_failures"],
        "executor.run_ms": counts["run_ms"],
        "executor.cpu_ms": counts["cpu_ms"],
        "executor.blocked_ms": counts["run_ms"] - counts["cpu_ms"],
        "shuffle.read_mb": counts["shuffle_read_bytes"] / MB,
        "shuffle.write_mb": counts["shuffle_write_bytes"] / MB,
        "shuffle.write_records": counts["shuffle_write_records"],
        "sources.input_mb": counts["input_bytes"] / MB,
        "sources.output_mb": counts["output_bytes"] / MB,
        "operators.mapreduce.map_ms": split["map"]["run_ms"] if is_mr else 0,
        "operators.mapreduce.map_tasks": split["map"]["tasks"] if is_mr else 0,
        "operators.mapreduce.reduce_ms": split["reduce"]["run_ms"] if is_mr else 0,
        "operators.mapreduce.records_shuffled": (
            split["map"]["shuffle_write_records"] if is_mr else 0
        ),
    }
    return out


def per_layer_metrics(
    traced_passes: list[dict], session: dict[str, float], cores: int
) -> dict[str, float]:
    """Per-pass totals of the item layers, averaged over the traced
    passes; each pass is ``{"wall_s": ..., "items": [layer dicts]}``."""
    sums: dict[str, list[float]] = {}
    for p in traced_passes:
        tot: dict[str, float] = {}
        for layers in p["items"]:
            for k, v in layers.items():
                tot[k] = tot.get(k, 0.0) + v
        tot["executor.core_util"] = tot.get("executor.cpu_ms", 0.0) / (
            1e3 * p["wall_s"] * cores
        )
        for k, v in tot.items():
            sums.setdefault(k, []).append(v)
    out = {k: statistics.fmean(v) for k, v in sums.items()}
    out.update(session)
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def median_pass(item_s: dict[str, list[float]]) -> float:
    """Seconds of a median pass: each item's median over the passes,
    summed. One slow item in one pass moves it less than the median of
    the pass sums does."""
    return sum(statistics.median(v) for v in item_s.values())


def end_to_end_metrics(
    setup: tuple[float, float, float],
    item_samples: dict[str, list[tuple[float, float, float]]],
    input_bytes: int,
    peak_rss_mb: float,
    probes: list[float],
) -> tuple[dict[str, float], dict]:
    """The end-to-end values from the set-up's and each timed item's
    ``(seconds, busy_s, steal_s)`` and the run's probe times, plus the
    tail's percentile and sample count, which the summary prints beside
    it.

    ``item_p50_s`` is the median over items of each item's median time.
    The median of all samples would jump between items of very
    different cost whenever one pass runs slow or fast."""
    item_s = {k: [x[0] for x in v] for k, v in item_samples.items()}
    fair_s = {k: [unstolen(*x) for x in v] for k, v in item_samples.items()}
    wall = median_pass(item_s)
    p50 = statistics.median(statistics.median(v) for v in item_s.values())
    speed = speed_factor(probes)
    samples = [x for v in item_s.values() for x in v]
    tail_v, tail_p, n = tail(samples)
    metrics = {
        "setup_s": unstolen(*setup),
        "wall_s": median_pass(fair_s) * speed,
        "item_p50_s": statistics.median(statistics.median(v) for v in fair_s.values()) * speed,
        "peak_rss_mb": peak_rss_mb,
        "item_tail_s": tail_v,
        "input_mb_per_s": input_bytes / MB / wall,
        "setup_raw_s": setup[0],
        "wall_raw_s": wall,
        "item_p50_raw_s": p50,
        "probe_ms": 1e3 * statistics.median(probes),
    }
    return metrics, {"percentile": tail_p, "samples": n}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def env_stamp(spark, root) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "cores": spark.sparkContext.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit,
    }


def env_mismatch(a: dict, b: dict) -> list[str]:
    """The stamp keys on which two records differ; comparing them is
    refused unless this is empty."""
    return [k for k in ENV_KEYS if a.get(k) != b.get(k)]
