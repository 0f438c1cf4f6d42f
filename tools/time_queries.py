"""Bench-methodology timing for a list of registered queries: bench.py's
own warm-up, between-query reset and forcing action, min of N reps,
printed with the host stamp of the kept rep.
For A/B measurement during the optimization round (bench.py remains
the round-record instrument).

Usage: python tools/time_queries.py [--reps 3] [--sf DIR] q1 q2 ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_up
from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark


def main() -> None:
    argv = sys.argv[1:]
    reps = 3
    sf = "/root/testdata/sf0.1"
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
    if "--sf" in argv:
        i = argv.index("--sf")
        sf = argv[i + 1]
        del argv[i : i + 2]
    names = argv
    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf, names)
    total = 0.0
    for n in names:
        best, _, host = min(
            (time_query(spark, n, sf) for _ in range(reps)), key=lambda r: r[0]
        )
        total += best
        print(f"{n:40s} {best:7.3f}s  steal {host['steal_s']:.2f}s"
              f"  other_cpu {host['other_cpu_s']:.2f}s")
    print(f"{'TOTAL':40s} {total:7.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
