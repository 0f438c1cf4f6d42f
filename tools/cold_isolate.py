"""Cold-isolated per-query timing — the adjudication protocol for
suite-timing outliers.

Full-suite timings on this sandbox carry ±15-40% same-code cross-run
variance on shuffle-heavy queries (SCALE.md §Cold re-measures; the
r06 judge's 44 s sketch outlier cold-measured at 2.8-4.9 s, the r07
dedup_embedding_cosine 3.73 s reading cold-measured at 2.3-2.9 s).
Before treating a bench regression as real, re-measure it here: a
FRESH process per run (JIT/cache state cannot leak between runs),
the bench warmup discipline (one bench-scale scan for executor
startup, one smoke-scale pass of the same query for codegen/JIT,
then clearCache + GC), and N runs whose MINIMUM is the comparable
number (contention only ever adds time).

Usage:
    python tools/cold_isolate.py <query> [<query> ...] [--runs 3]
                                 [--sf-dir /root/testdata/sf0.1]

Each run prints `COLD <name>: <sec>s rows=<n>`; the parent prints a
per-query min/median summary. Keep the machine otherwise idle.
"""

from __future__ import annotations

import argparse
import os
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent.parent

_CHILD = r"""
import sys, time
sys.path.insert(0, {repo!r})
from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

name, sf = {name!r}, {sf!r}
entry = REGISTRY[name]
spark = get_spark(app_name="cold-iso")
spark.sparkContext.setLogLevel("ERROR")
REGISTRY["tpch_q1_pricing_summary"].fn(spark, sf).count()
# Codegen/JIT warmup at the smallest sibling scale of the measured
# dir (sfX.Y -> sf0.001 next to it); fall back to the measured dir
# itself when no such sibling exists (non-standard layouts).
import os
warm = os.path.join(os.path.dirname(sf.rstrip("/")), "sf0.001")
entry.fn(spark, warm if os.path.isdir(warm) else sf).count()
spark.catalog.clearCache()
import gc; gc.collect()
t0 = time.monotonic()
n = entry.fn(spark, sf).count()
print(f"COLD {{name}}: {{time.monotonic()-t0:.3f}}s rows={{n}}")
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1")
    )
    ns = ap.parse_args()
    for name in ns.queries:
        times = []
        for _ in range(ns.runs):
            out = subprocess.run(
                [sys.executable, "-c",
                 _CHILD.format(repo=str(HERE), name=name, sf=ns.sf_dir)],
                capture_output=True, text=True,
            )
            line = next(
                (l for l in out.stdout.splitlines() if l.startswith("COLD ")),
                None,
            )
            if line is None:
                print(f"{name}: RUN FAILED\n{out.stderr[-800:]}",
                      file=sys.stderr)
                sys.exit(1)
            print(line)
            times.append(float(line.split(":")[1].split("s")[0]))
        print(
            f"SUMMARY {name}: min={min(times):.3f}s "
            f"median={statistics.median(times):.3f}s "
            f"runs={[round(t, 3) for t in times]}"
        )


if __name__ == "__main__":
    main()
