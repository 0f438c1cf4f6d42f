"""The bench artifact guard (judge r06): a BENCH_FULL record must
never be replaced by a run at a different scale factor — that's how
the committed sf0.1 r06 record got clobbered by a leaked sf0.01 env
and the round-over-round diff silently compared across scales. Also
pinned here: the stdout line's contract and size, the machine-stamp
warning in tools/bench_compare.py, the per-query host stamp, and the
one shared timing harness."""

from __future__ import annotations

import ast
import importlib
import json
import pathlib

import pytest

from bench import write_full_record

from .conftest import SF_CORRECT


def _payload(sf: str) -> dict:
    return {"sf": sf, "queries": {"q": 1.0}}


def test_writes_fresh_record(tmp_path):
    p = tmp_path / "BENCH_FULL_r99.json"
    assert write_full_record(p, "0.1", _payload("0.1"))
    assert json.loads(p.read_text())["sf"] == "0.1"


def test_overwrites_same_sf(tmp_path):
    p = tmp_path / "BENCH_FULL_r99.json"
    write_full_record(p, "0.1", _payload("0.1"))
    new = _payload("0.1") | {"queries": {"q": 2.0}}
    assert write_full_record(p, "0.1", new)
    assert json.loads(p.read_text())["queries"]["q"] == 2.0


def test_refuses_cross_sf_overwrite(tmp_path, capsys):
    p = tmp_path / "BENCH_FULL_r99.json"
    write_full_record(p, "0.1", _payload("0.1"))
    assert not write_full_record(p, "0.01", _payload("0.01"))
    assert json.loads(p.read_text())["sf"] == "0.1"  # untouched
    assert "REFUSING" in capsys.readouterr().err


def test_corrupt_existing_record_is_replaced(tmp_path):
    """A record that can't testify to its sf — unreadable, valid JSON
    that isn't an object, or an object without the key — is treated
    as absent rather than crashing after the timed suite or wedging
    the bench forever (review r07: .get on parsed 'null' raised
    AttributeError; a dict without 'sf' compared as the string
    'None' and refused every future write)."""
    for garbage in ["{not json", "null", "[]", '"0.1"', "{}",
                    '{"queries": {}}']:
        p = tmp_path / "BENCH_FULL_r99.json"
        p.write_text(garbage)
        assert write_full_record(p, "0.1", _payload("0.1")), garbage
        assert json.loads(p.read_text())["sf"] == "0.1"
        p.unlink()


# ------------------------------------------- stdout line (driver contract)


def test_stdout_record_contract_keys_and_order():
    """The printed line keeps the driver contract (metric/value/unit/
    queries/sf) with the big dict FIRST and scalars LAST (tail-capture
    safety), and the suite totals of the host stamps among the
    scalars."""
    from bench import stdout_record

    timings = {"q_a": 1.5, "q_b": 0.25}
    host = {"steal_s": 0.4, "other_cpu_s": 2.25}
    rec = stdout_record(timings, "0.1", host, full_total=42.5)
    assert list(rec) == [
        "queries", "sf", "unit", "full_suite_seconds", "metric",
        "steal_s", "other_cpu_s", "headline_suite_seconds", "value",
    ]
    assert rec["metric"] == "headline_suite_seconds"
    assert rec["unit"] == "sec"
    assert rec["sf"] == 0.1
    assert rec["value"] == rec["headline_suite_seconds"] == 1.75
    assert rec["queries"] == timings
    assert rec["full_suite_seconds"] == 42.5
    assert rec["steal_s"] == 0.4 and rec["other_cpu_s"] == 2.25


def test_stdout_record_worst_case_line_under_budget():
    """r12 verdict task 2: the r11 stdout line (~9 KB: 158-query
    full_suite + 12 per-query stamps) outgrew the driver's capture and
    parsed null, nulling the PERF table two rounds running. Pin the
    worst case: every HEADLINE query at a 4-digit reading and 7-digit
    host totals — the line must stay under STDOUT_LINE_BUDGET so the
    driver can always parse it."""
    import bench
    from bench import STDOUT_LINE_BUDGET, stdout_record

    timings = {n: 9999.999 for n in bench.HEADLINE}
    host = {"steal_s": 9999999.99, "other_cpu_s": -9999999.99}
    line = json.dumps(stdout_record(timings, "0.1", host,
                                    full_total=9999999.999))
    assert len(line) < STDOUT_LINE_BUDGET, len(line)
    assert json.loads(line)["value"] == round(9999.999 * len(timings), 3)


def test_stdout_record_headline_mode_omits_optional_scalars():
    from bench import stdout_record

    rec = stdout_record({"q": 1.0}, "0.01", {"steal_s": 0.0,
                                             "other_cpu_s": 0.0})
    assert "full_suite_seconds" not in rec
    assert rec["sf"] == 0.01


# ------------------------------------------- machine stamp (core count)


def test_refuses_cross_stamp_overwrite(tmp_path, capsys):
    """An 8-core run never replaces a 32-core record at the same sf;
    an unstamped legacy record cannot testify to its machine and is
    replaced, like one without an sf."""
    from bench import record_stamp

    c32 = {"cpus": 32, "pyspark": "4.1.2", "python": "3.11.9"}
    p = tmp_path / "BENCH_FULL_r99.json"
    assert write_full_record(p, "0.1", _payload("0.1"))  # legacy shape
    assert write_full_record(p, "0.1", _payload("0.1") | c32)
    assert not write_full_record(p, "0.1", _payload("0.1") | c32 | {"cpus": 8})
    assert record_stamp(json.loads(p.read_text())) == c32  # untouched
    assert "REFUSING" in capsys.readouterr().err
    assert write_full_record(p, "0.1", _payload("0.1") | c32)


def test_bench_compare_warns_on_machine_stamp_mismatch(
    tmp_path, monkeypatch, capsys
):
    """Committed records must not mix machines silently: a 4-core
    record against an 8-core one prints the warning, two records with
    one stamp print none. Regression rows show the new record's host
    stamp for that query."""
    from tools import bench_compare

    c4 = {"cpus": 4, "pyspark": "4.1.2", "python": "3.11.9"}

    def run(old: dict, new: dict) -> str:
        paths = []
        for i, rec in enumerate((old, new)):
            path = tmp_path / f"BENCH_FULL_r{i:02d}.json"
            path.write_text(json.dumps({"sf": "0.1", **rec}))
            paths.append(str(path))
        monkeypatch.setattr("sys.argv", ["bench_compare", *paths])
        bench_compare.main()
        return capsys.readouterr().out

    host = {"q": {"steal_s": 0.03, "other_cpu_s": 1.25}}
    out = run({**c4, "queries": {"q": 1.0}},
              {**c4, "cpus": 8, "queries": {"q": 2.0}, "host": host})
    assert "WARNING: machine stamps differ" in out
    assert "[steal 0.03s other_cpu 1.25s]" in out
    out = run({**c4, "queries": {"q": 1.0}}, {**c4, "queries": {"q": 1.0}})
    assert "WARNING" not in out


# ----------------------------------------------- per-query host stamp


def test_host_stamp_arithmetic():
    """other_cpu_s = the machine's busy delta (user+nice+system+irq+
    softirq; idle and iowait excluded) minus the bench tree's delta;
    steal_s is the steal delta. Ticks convert at ``hz``."""
    from bench import host_stamp

    #          user nice sys idle iowait irq softirq steal guest gnice
    before = ([1000, 10, 200, 5000, 30, 5, 7, 40, 0, 0], 600)
    after = ([1300, 20, 260, 9000, 90, 8, 9, 65, 0, 0], 850)
    # busy delta 300+10+60+3+2 = 375 ticks, tree 250, steal 25
    assert host_stamp(before, after, hz=100) == {
        "steal_s": 0.25, "other_cpu_s": 1.25}
    # The tree using every busy tick leaves nothing to others.
    assert host_stamp(before, (after[0], 600 + 375), hz=100)[
        "other_cpu_s"] == 0.0


def test_time_query_host_stamp_sees_a_busy_loop_outside_the_tree(spark):
    """A one-core shell busy loop, double-forked so it is not a
    descendant of this process, runs through a timed wc query: its
    CPU reads in other_cpu_s. The same query without the loop reads
    near zero."""
    import os
    import signal
    import subprocess

    from bench import time_query

    time_query(spark, "wc_wordcount", SF_CORRECT)  # untimed: compile
    sec, _, host = time_query(spark, "wc_wordcount", SF_CORRECT)
    assert host["other_cpu_s"] < 0.25 * sec, (sec, host)
    loop = "bash -c 'while [ $SECONDS -lt 60 ]; do :; done'"
    pid = int(subprocess.run(
        ["sh", "-c", f"{loop} </dev/null >/dev/null 2>&1 & echo $!"],
        capture_output=True, text=True, check=True,
    ).stdout)
    try:
        sec, _, host = time_query(spark, "wc_wordcount", SF_CORRECT)
    finally:
        os.kill(pid, signal.SIGKILL)
    assert host["other_cpu_s"] >= 0.5 * sec, (sec, host)


# --------------------- one timing harness: bench.force/warm_up/reset


REPO = pathlib.Path(__file__).resolve().parent.parent


def test_force_evaluates_what_count_prunes(spark):
    """count() never evaluates a projected column, so a column that
    raises on every row still counts 10; bench.force folds every column
    and must raise. This is why no timing tool may time count()."""
    from pyspark.sql import functions as F

    from bench import force

    df = spark.range(10).select(
        "id", F.when(F.col("id") >= 0, F.raise_error(F.lit("boom"))).alias("x")
    )
    assert df.count() == 10
    with pytest.raises(Exception, match="boom"):
        force(df)
    assert force(spark.range(10))[0] == 10


def _owners(needle: str) -> set[str]:
    """``module.function`` for every line of bench.py and tools/*.py
    containing ``needle``, named by its enclosing top-level function
    (``<module>`` outside any). Text, not call nodes: a timing loop in
    a child-process script string counts too."""
    owners: set[str] = set()
    for path in [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]:
        src = path.read_text()
        defs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.parse(src).body
            if isinstance(n, ast.FunctionDef)
        ]
        for i, line in enumerate(src.splitlines(), 1):
            if needle in line:
                name = next((d for a, b, d in defs if a <= i <= b), "<module>")
                owners.add(f"{path.stem}.{name}")
    return owners


def test_one_forcing_fold_and_one_pool_warm():
    assert _owners("xxhash64(") == {"bench.force"}
    assert _owners("warm_python_worker_pool(") == {
        "bench.warm_up",
        "bench.reset",
    }


def test_timing_tools_import():
    """Nothing else imports the timing tools, so a broken harness import
    would otherwise pass tier-1. cold_isolate's child script must also
    survive its str.format and compile."""
    for tool in ("time_queries", "scale_smoke", "scale_verify"):
        importlib.import_module(f"tools.{tool}")
    cold = importlib.import_module("tools.cold_isolate")
    child = cold._CHILD.format(repo=str(REPO), name="q", sf="d")
    compile(child, "<cold_isolate child>", "exec")
