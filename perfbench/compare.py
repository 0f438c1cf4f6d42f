"""Compare two run records written by ``run.py``.

    python3 perfbench/compare.py .perfbench_work/records/A.json .perfbench_work/records/B.json

Prints every metric the two records share, B against A. Records from
different workloads, core counts or pyspark/Java/Python versions are
refused (exit code 2): their numbers are not comparable.
"""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from perfbench.record import END_TO_END, PER_LAYER, REPORTED, env_mismatch  # noqa: E402


def compare(a: dict, b: dict) -> list[str]:
    if a["workload"] != b["workload"]:
        raise ValueError(f"different workloads: {a['workload']} vs {b['workload']}")
    bad = env_mismatch(a["env"], b["env"])
    if bad:
        diffs = ", ".join(f"{k}: {a['env'].get(k)} vs {b['env'].get(k)}" for k in bad)
        raise ValueError(f"environments differ ({diffs})")
    lines = []
    for section, units in (("end_to_end", {**END_TO_END, **REPORTED}), ("per_layer", PER_LAYER)):
        va, vb = a.get(section) or {}, b.get(section) or {}
        for k, unit in units.items():
            if k in va and k in vb:
                x, y = va[k], vb[k]
                rel = f"{(y - x) / x:+.1%}" if x else "n/a"
                lines.append(f"{k:40s} {x:12.4f} {y:12.4f} {unit:6s} {rel}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.loads(open(p).read()) for p in argv)
    try:
        lines = compare(a, b)
    except ValueError as exc:
        print(f"compare: refused: {exc}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
