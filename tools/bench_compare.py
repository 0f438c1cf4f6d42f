"""Compare two committed BENCH_FULL_r{NN}.json files per query.

Usage:
    python tools/bench_compare.py BENCH_FULL_r05.json BENCH_FULL_r06.json
    python tools/bench_compare.py <old> <new> --threshold 1.25

Prints regressions (new/old >= threshold), improvements (<= 1/threshold),
and the suite totals. Full-suite timings are ordering-sensitive — treat
a flagged query as a candidate for an isolated cold re-measure
(``tools/cold_isolate.py``; SCALE.md §Cold re-measures), not as a
confirmed regression. Each regression row shows the new record's host
stamp for that query (``bench.host_stamp``: steal and other processes'
CPU seconds while it was timed), so a contended reading reads as one.

Warns when the two records differ in scale factor or machine stamp
(``bench.record_stamp``: core count, pyspark and Python versions) —
their ratios then compare different data or different machines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import record_stamp


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("old_file")
    p.add_argument("new_file")
    p.add_argument("--threshold", type=float, default=1.25)
    ns = p.parse_args()
    thr = ns.threshold
    old_doc = json.load(open(ns.old_file))
    new_doc = json.load(open(ns.new_file))
    # str() both sides: bench's stdout record carries sf as a float,
    # write_full_record as a string — 0.1 vs "0.1" is not a mismatch.
    if str(old_doc.get("sf")) != str(new_doc.get("sf")):
        print(
            f"WARNING: scale factors differ ({old_doc.get('sf')} vs "
            f"{new_doc.get('sf')}) — ratios below compare different data sizes"
        )
    if record_stamp(old_doc) != record_stamp(new_doc):
        print(
            f"WARNING: machine stamps differ ({record_stamp(old_doc)} vs "
            f"{record_stamp(new_doc)}) — ratios below compare different machines"
        )
    old = old_doc["queries"]
    new = new_doc["queries"]
    hosts = new_doc.get("host") or {}

    both = sorted(set(old) & set(new))
    print(f"overlap {len(both)} queries; "
          f"sum {sum(old[k] for k in both):.1f}s -> "
          f"{sum(new[k] for k in both):.1f}s")
    rows = [(k, old[k], new[k], new[k] / old[k]) for k in both if old[k] > 0]
    med = statistics.median(r[3] for r in rows) if rows else float("nan")
    print(f"median per-query ratio: {med:.3f}")
    regs = sorted((r for r in rows if r[3] >= thr), key=lambda r: -r[3])
    imps = sorted((r for r in rows if r[3] <= 1 / thr), key=lambda r: r[3])
    for title, group in (("regressions", regs), ("improvements", imps)):
        print(f"{title} (x{thr:.2f}): {len(group)}")
        for k, o, n, r in group[:20]:
            h = hosts.get(k) if title == "regressions" else None
            mark = (f"  [steal {h['steal_s']:.2f}s other_cpu {h['other_cpu_s']:.2f}s]"
                    if h else "")
            print(f"  {r:5.2f}x  {o:7.2f} -> {n:7.2f}  {k}{mark}")
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    if only_old:
        print("dropped:", only_old)
    if only_new:
        print("added:", only_new)


if __name__ == "__main__":
    main()
