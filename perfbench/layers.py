"""Per-layer measurement: spans kept in memory, the order-insensitive
output digest, and the reader of Spark's status store.

Spans are recorded by the benchmark around each call into a layer
(``queries.build``, ``spark.plan``, ``spark.exec`` and, for the MR
engine, ``operators.mapreduce.*`` and ``sources.write_text_output``).
Stage counts come from the JVM status store, which answers with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MASK64 = (1 << 64) - 1


# --- spans --------------------------------------------------------------


@dataclass
class Tracer:
    """Spans in memory: name, start, end, parent id and the id of the
    item (request) they belong to. Written out once, when the run
    ends. A disabled tracer records nothing."""

    enabled: bool = True
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, minus the time its child spans cover."""
    child_total: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] = child_total.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child_total.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# --- output digest --------------------------------------------------------


def digest_frame(df: DataFrame) -> DataFrame:
    """One-row frame ``(n, lo, hi)`` that forces every output column.

    The digest is the row count plus the wrapping 64-bit sum of
    ``xxhash64`` over all columns. A sum (unlike a ``bit_xor`` fold)
    keeps rows that appear twice. Spark sums longs without wrapping,
    so the hash is summed as its low 32 bits and its high 32 bits
    separately; neither sum can overflow below 2^31 rows, and
    ``combine`` folds them into the wrapped sum."""
    h = df.select(F.xxhash64(*df.columns).alias("_h"))
    return h.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("_h").bitwiseAND(0xFFFFFFFF)), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftright(F.col("_h"), 32)), F.lit(0)).alias("hi"),
    )


def combine(n: int, lo: int, hi: int) -> list[int]:
    """``[row count, sum of xxhash64 mod 2^64]`` from the two half sums."""
    return [int(n), ((int(hi) << 32) + int(lo)) & _MASK64]


def line_digest(lines: Iterable[str]) -> list[int]:
    """``[line count, sum of 64-bit BLAKE2b mod 2^64]`` over text lines.

    The same multiset of lines gives the same digest in any order, so
    it stands in for comparing sorted line lists, in constant memory. A
    line that appears twice counts twice."""
    n = total = 0
    for line in lines:
        n += 1
        h = hashlib.blake2b(line.encode("utf-8"), digest_size=8).digest()
        total += int.from_bytes(h, "little")
    return [n, total & _MASK64]


# --- status store -----------------------------------------------------------


STAGE_FIELDS = (
    "tasks",
    "task_failures",
    "run_ms",
    "cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "input_bytes",
    "output_bytes",
)


class StageReader:
    """Reads one job group's jobs and stages from the status store.

    Call ``read`` right after the item finishes: the store keeps only
    ``spark.ui.retainedStages`` (1000) stages, and a single driver-loop
    query can run over a hundred. ``cpu_ms`` is JVM thread CPU only
    (``executorCpuTime``), so ``run_ms - cpu_ms`` includes the time
    tasks spent waiting on Python workers."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self._sc.statusTracker()

    def drain(self) -> None:
        """Wait until every queued listener event reached the store."""
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        self.drain()
        return list(self._tracker.getJobIdsForGroup(group))

    def read(self, group: str) -> dict:
        """Totals over the group's jobs: job and stage counts plus
        ``STAGE_FIELDS`` summed over the stages that ran, and the same
        fields for the stages that wrote shuffle output (``map``) and
        those that did not (``reduce``)."""
        jobs = self.job_ids(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        total = dict.fromkeys(STAGE_FIELDS, 0)
        split = {"map": dict.fromkeys(STAGE_FIELDS, 0), "reduce": dict.fromkeys(STAGE_FIELDS, 0)}
        ran = 0
        for sid in sorted(stage_ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            ran += 1
            row = {
                "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                "task_failures": sd.numFailedTasks(),
                "run_ms": sd.executorRunTime(),
                "cpu_ms": sd.executorCpuTime() / 1e6,
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_write_records": sd.shuffleWriteRecords(),
                "input_bytes": sd.inputBytes(),
                "output_bytes": sd.outputBytes(),
            }
            side = split["map" if row["shuffle_write_bytes"] > 0 else "reduce"]
            for k, v in row.items():
                total[k] += v
                side[k] += v
        return {"jobs": len(jobs), "stages": ran, **total, "split": split}
