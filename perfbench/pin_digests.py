"""Pin the output digest of every table item, after checking the item's
output against its DuckDB oracle from ``__spark_entry__.oracle_sql()``.

    python3 perfbench/pin_digests.py

Run it when the tables under ``perfbench/data`` or the item list
change. It writes
``perfbench/digests.json``; an item whose Spark output does not match
its oracle is not pinned and the script exits non-zero.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from perfbench.layers import combine, digest_frame  # noqa: E402
from perfbench.run import ROOT, _environment, _jvm_pid, _session, _shutdown  # noqa: E402
from perfbench.workloads import DIGESTS, LOOP_PIPELINE, SQL_STAR, TABLES_DIR  # noqa: E402


def main() -> int:
    import __spark_entry__
    from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
    from tests.oracle_check import compare_query

    work = ROOT / ".perfbench_work"
    _environment(work)
    sf_dir = str(TABLES_DIR)
    oracles = __spark_entry__.oracle_sql()
    spark = _session(len(os.sched_getaffinity(0)), work)
    jvm_pid = _jvm_pid(spark)
    digests, checked, bad = {}, {}, []
    try:
        for name in SQL_STAR + LOOP_PIPELINE:
            fn = REGISTRY[name].fn
            if name in oracles:
                try:
                    compare_query(spark, fn, oracles[name], sf_dir, name)
                    checked[name] = "matches oracle"
                except AssertionError as exc:
                    bad.append(name)
                    print(f"{name}: {exc}", file=sys.stderr)
                    continue
            else:
                checked[name] = "no oracle"
            digests[name] = combine(*digest_frame(fn(spark, sf_dir)).collect()[0])
            print(f"{name:36s} {checked[name]:15s} {digests[name]}", file=sys.stderr)
    finally:
        _shutdown(spark, jvm_pid)
    DIGESTS.write_text(
        json.dumps(
            {
                "tables": str(TABLES_DIR.relative_to(ROOT)),
                "table_seed": 42,
                "oracle_check": {"date": dt.date.today().isoformat(), "items": checked},
                "digests": digests,
            },
            indent=1,
        )
        + "\n"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
