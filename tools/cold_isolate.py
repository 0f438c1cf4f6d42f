"""Cold-isolated per-query timing — the adjudication protocol for
suite-timing outliers.

Full-suite timings on this sandbox carry ±15-40% same-code cross-run
variance on shuffle-heavy queries (SCALE.md §Cold re-measures; the
r06 judge's 44 s sketch outlier cold-measured at 2.8-4.9 s, the r07
dedup_embedding_cosine 3.73 s reading cold-measured at 2.3-2.9 s).
Before treating a bench regression as real, re-measure it here: a
FRESH process per run (JIT/cache state cannot leak between runs),
bench.py's own warm-up, reset and forcing action (``bench.warm_up``
with the query itself as the smoke-scale pass, then
``bench.time_query``), and N runs whose MINIMUM is the comparable
number (contention only ever adds time).

Usage:
    python tools/cold_isolate.py <query> [<query> ...] [--runs 3]
                                 [--sf-dir /root/testdata/sf0.1]

Each run prints `COLD <name>: <sec>s rows=<n> steal=<s>s other_cpu=<s>s`
(the run's host stamp, ``bench.host_stamp``); the parent prints a
per-query min/median summary. Keep the machine otherwise idle: a run
whose other_cpu reads a sizeable share of its seconds was contended.
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
import sys
sys.path.insert(0, {repo!r})
from bench import time_query, warm_up
from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

name, sf = {name!r}, {sf!r}
spark = get_spark(app_name="cold-iso")
spark.sparkContext.setLogLevel("ERROR")
warm_up(spark, sf, [name])
sec, rows, host = time_query(spark, name, sf)
print(f"COLD {{name}}: {{sec:.3f}}s rows={{rows}} "
      f"steal={{host['steal_s']:.2f}}s other_cpu={{host['other_cpu_s']:.2f}}s")
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
