"""Opt-in sf1.0 CORRECTNESS sweep (round-12).

Every prior correctness artifact — the driver's CORRECTNESS_r{N}.json,
the local driver-sim, tests/test_oracle_parity.py — runs the
Spark-vs-DuckDB hash compare at sf0.01. The scale story so far rests
on sf1.0 *timing* smoke (tools/scale_smoke.py: wall + shuffle bytes).
This tool closes the remaining gap: it runs the SAME driver compare
(row count + column set + order-insensitive value equality, via
tests/oracle_check._normalize — the exact normalization the parity
suite uses) for every registered query at sf1.0, ~100x the driver's
correctness scale and 10x the bench scale.

Why this matters: several operators take data-dependent code paths
that sf0.01 never exercises hard — AQE re-plans (broadcast->sort-merge
flips at real sizes), hot-bucket caps actually dropping buckets,
multi-round convergence loops (connected components, PageRank, BPE)
running MORE rounds on 10-clique replicated data, spill paths. A
result that hash-matches DuckDB at 50k docs / 6M lineitem rows proves
the plans stay CORRECT under the physical strategies Catalyst picks at
scale, not just fast.

NOT part of default CI (runtime tens of minutes). Usage:

    python tools/scale_verify.py                  # full registry
    python tools/scale_verify.py --only a,b,c     # subset
    python tools/scale_verify.py --timeout 600    # per-oracle budget

Per-query oracle timeout: DuckDB runs on the driver's single process;
a handful of oracles are deliberately quadratic restatements (the
exact-cosine baseline computes ~200M candidate pairs at 20k vectors).
Each oracle gets a wall budget enforced via connection.interrupt();
a timed-out oracle is recorded as {"oracle_timeout": secs} — an
honest "oracle too slow at this scale", distinct from a mismatch.
The Spark side always runs to completion (its cost is the point).

Data: scale_data/sf1.0, generated by tools/scale_smoke.py (10
key-shifted near-dup copies of sf0.1 — harsher candidate density than
natural growth; see that module's docstring for the construction).

Output: SCALE_VERIFY_r{N}.json, one row per query:
  {"sec_spark", "sec_oracle", "rows", "match": true}        — green
  {"...", "match": false, "why": "rows|schema|values"}      — red
  {"oracle_timeout": N, "rows": spark_rows}                 — budget
  {"error": "..."}                                          — crash
"""

from __future__ import annotations

import json
import pathlib
import sys
import threading
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import reset

SF_DIR = REPO / "scale_data" / "sf1.0"
DEFAULT_TIMEOUT = 600.0


def _arg(flag: str, default: str | None = None) -> str | None:
    if flag in sys.argv:
        return sys.argv[sys.argv.index(flag) + 1]
    return default


def main() -> None:
    # --sf-dir runs the same compare at another scale (e.g. the
    # bench's /root/testdata/sf0.1, whose correctness was otherwise
    # only ever implied by the sf0.01 gate + sf1.0 sweep bracketing
    # it). Check mode only: no artifact is written, so the committed
    # sf1.0 record can't be clobbered by an ad-hoc scale point.
    sf_dir = pathlib.Path(_arg("--sf-dir", str(SF_DIR)))
    check_only = sf_dir != SF_DIR
    if not (sf_dir / "embeddings.parquet").exists():
        sys.exit(
            f"{sf_dir} missing — run tools/scale_smoke.py once to generate it"
        )

    import duckdb

    from tests.oracle_check import _normalize, duckdb_connect

    from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
    from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

    timeout = float(_arg("--timeout", str(DEFAULT_TIMEOUT)))
    only = _arg("--only")
    names = sorted(REGISTRY) if only is None else only.split(",")
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="scale-verify")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    n_green = n_red = n_timeout = n_err = 0
    for name in names:
        entry = REGISTRY[name]
        reset(spark)  # includes the rank persist contract (SCALE.md)
        row: dict = {}
        try:
            t0 = time.perf_counter()
            sdf = entry.fn(spark, str(sf_dir)).toPandas()
            row["sec_spark"] = round(time.perf_counter() - t0, 2)
            row["rows"] = len(sdf)
            if entry.oracle is None:
                row["rows_only"] = True
                results[name] = row
                print(f"{name}: rows-only {len(sdf)}", flush=True)
                continue
            con = duckdb_connect(str(sf_dir))
            timer = threading.Timer(timeout, con.interrupt)
            timer.start()
            try:
                t0 = time.perf_counter()
                odf = con.sql(entry.oracle).df()
                row["sec_oracle"] = round(time.perf_counter() - t0, 2)
            except duckdb.InterruptException:
                row["oracle_timeout"] = timeout
                n_timeout += 1
                results[name] = row
                print(f"{name}: ORACLE TIMEOUT after {timeout:.0f}s "
                      f"(spark {row['sec_spark']}s, {row['rows']} rows)",
                      flush=True)
                continue
            finally:
                timer.cancel()
                con.close()
            if sorted(sdf.columns) != sorted(odf.columns):
                row.update(match=False, why="schema")
            elif len(sdf) != len(odf):
                row.update(match=False, why="rows",
                           rows_oracle=len(odf))
            elif not _normalize(sdf).equals(_normalize(odf)):
                row.update(match=False, why="values")
            else:
                row["match"] = True
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            row["error"] = f"{type(exc).__name__}: {exc}"[:300]
            n_err += 1
            results[name] = row
            print(f"{name}: ERROR {row['error'][:120]}", flush=True)
            continue
        results[name] = row
        if row.get("match"):
            n_green += 1
        else:
            n_red += 1
        print(f"{name}: {'MATCH' if row.get('match') else 'MISMATCH ' + row.get('why', '?')} "
              f"(spark {row['sec_spark']}s / oracle {row['sec_oracle']}s, "
              f"{row['rows']} rows)", flush=True)

    print(f"\nGREEN {n_green} / RED {n_red} / oracle-timeout {n_timeout} "
          f"/ error {n_err} (of {len(names)}) at {sf_dir}")
    if check_only:
        print("check mode (--sf-dir): no artifact written")
    else:
        import __spark_entry__ as _entry

        rno = _entry._next_round()
        out = REPO / f"SCALE_VERIFY_r{rno:02d}.json"
        # A --only re-check (e.g. re-running one timed-out oracle
        # with a bigger budget) updates the existing full-sweep
        # artifact in place instead of clobbering 157 rows with 1.
        if only is not None and out.exists():
            merged = json.loads(out.read_text())
            merged.update(results)
            results = merged
        out.write_text(json.dumps(results, indent=1, sort_keys=True) + "\n")
        print(f"written: {out}")
    spark.stop()


if __name__ == "__main__":
    main()
