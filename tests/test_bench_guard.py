"""The bench artifact guard (judge r06): a BENCH_FULL record must
never be replaced by a run at a different scale factor — that's how
the committed sf0.1 r06 record got clobbered by a leaked sf0.01 env
and the round-over-round diff silently compared across scales."""

from __future__ import annotations

import ast
import importlib
import json
import pathlib

import pytest

from bench import write_full_record


def _payload(sf: str) -> dict:
    return {"sf": sf, "queries": {"q": 1.0}, "canary": {"start": 0.5}}


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


# --------------------- degraded-window retry protocol (r10 verdict 4)


def test_window_degraded_slowdown_signal():
    """Signal (a): mid/end drifted above start — the r10 signature."""
    from bench import window_degraded

    prior = {"canary": {"start": 0.12, "mid": 0.11, "end": 0.12}}
    assert not window_degraded({"slowdown": 1.0, "start": 0.12,
                                "mid": 0.12, "end": 0.12}, prior)
    assert not window_degraded({"slowdown": 1.3, "start": 0.12,
                                "mid": 0.12, "end": 0.12}, prior)  # at, not above
    assert window_degraded({"slowdown": 1.574, "start": 0.12,
                            "mid": 0.19, "end": 0.18}, prior)


def test_window_degraded_uniform_floor_signal():
    """Signal (b), review r11: contention present from BEFORE suite
    start elevates all three checkpoints equally — slowdown ~1.0 —
    but the session floor vs the prior record's floor catches it."""
    from bench import window_degraded

    prior = {"canary": {"start": 0.14, "mid": 0.12, "end": 0.11}}
    uniform_busy = {"slowdown": 1.03, "start": 0.35, "mid": 0.34, "end": 0.36}
    assert window_degraded(uniform_busy, prior)
    # Normal cross-session machine drift (~1.2x) must NOT trigger.
    drift = {"slowdown": 1.07, "start": 0.14, "mid": 0.13, "end": 0.14}
    assert not window_degraded(drift, prior)
    # No prior record -> only the slowdown signal can fire.
    assert not window_degraded(uniform_busy, {})


def test_retry_plan_fires_on_outliers_regardless_of_canary():
    """r11 twin evidence: bursty contention inflates individual
    queries while every canary checkpoint reads clean — the retries
    are outlier-driven, not canary-gated."""
    from bench import retry_plan

    cur = {"a": 10.0, "b": 0.5}
    prior = {"a": 1.0, "b": 0.4}
    assert retry_plan(cur, prior) == ["a"]
    assert retry_plan({"a": 1.9}, {"a": 1.0}) == []  # <=2x: quiet


def test_retry_plan_worst_first_and_capped():
    """Ratios order the plan (worst first, name tiebreak); the count
    cap is test-only since r12 — added wall is bounded by
    apply_retries' wall-clock budget instead."""
    from bench import retry_plan

    cur = {f"q{i}": float(i) for i in range(3, 10)}   # q3..q9
    prior = {f"q{i}": 1.0 for i in range(3, 10)}      # ratios 3..9
    assert retry_plan(cur, prior) == [
        "q9", "q8", "q7", "q6", "q5", "q4", "q3"]
    assert retry_plan(cur, prior, cap=3) == ["q9", "q8", "q7"]
    # Name tiebreak at equal ratios: deterministic plan.
    assert retry_plan({"b": 4.0, "a": 4.0}, {"a": 1.0, "b": 1.0},
                      cap=1) == ["a"]


def test_retry_plan_uncapped_by_default():
    """r12 (verdict r11 task 3): the r11 record hit the old fixed cap
    at exactly 12/12 — a 13th outlier went unplanned. The default plan
    now includes EVERY >2x outlier (saturated-window shape: 20)."""
    from bench import retry_plan

    cur = {f"q{i:02d}": 10.0 for i in range(20)}
    prior = {f"q{i:02d}": 1.0 for i in range(20)}
    plan = retry_plan(cur, prior)
    assert len(plan) == 20
    assert sorted(plan) == sorted(cur)


def test_retry_plan_selects_only_outliers_with_priors():
    """>2x prior fires; <=2x doesn't; queries without a prior row
    (newly promoted) and zero-prior rows never fire."""
    from bench import retry_plan

    cur = {"slow": 5.0, "edge": 2.0, "fine": 1.1, "new": 60.0, "z": 9.0}
    prior = {"slow": 1.0, "edge": 1.0, "fine": 1.0, "z": 0.0}
    assert retry_plan(cur, prior) == ["slow"]


def test_retry_plan_empty_prior_record():
    from bench import retry_plan

    assert retry_plan({"a": 99.0}, {}) == []


def test_load_prior_record_picks_highest_round_below_current(tmp_path):
    """Prior discovery: highest K < rno with matching sf and a
    queries dict; cross-sf and malformed records are skipped."""
    import pathlib

    from bench import load_prior_record

    def w(k, sf, queries):
        (tmp_path / f"BENCH_FULL_r{k:02d}.json").write_text(
            json.dumps({"sf": sf, "queries": queries})
        )

    w(9, "0.1", {"q": 1.0})
    w(10, "0.1", {"q": 2.0})
    w(11, "0.01", {"q": 3.0})          # wrong sf — skip
    (tmp_path / "BENCH_FULL_r12.json").write_text("{not json")  # skip
    got = load_prior_record(pathlib.Path(tmp_path), 12, "0.1")
    assert got["queries"] == {"q": 2.0}
    # Current round's own record (K == rno) is never the prior.
    assert load_prior_record(
        pathlib.Path(tmp_path), 10, "0.1"
    )["queries"] == {"q": 1.0}
    assert load_prior_record(pathlib.Path(tmp_path), 9, "0.1") == {}


def test_apply_retries_stamps_both_readings_and_keeps_min():
    """End-to-end protocol exercise on a SYNTHETIC degraded window
    (r10 verdict task 4 'exercised' clause) against the REAL helper
    main() calls (review r11: no transcribed copy to drift): stub
    timer, fabricated prior, assert both readings stamped, min kept,
    headline dict updated, untouched queries untouched."""
    from bench import apply_retries, retry_plan

    prior = {"fast": 1.0, "spiked": 2.0}
    timings = {"fast": 1.1, "spiked": 9.0}   # spiked read 4.5x prior
    full = dict(timings) | {"tail_only": 7.0}
    calls = []

    def time_queries(names):               # stub: the "cold" re-run
        calls.extend(names)
        return {n: 3.0 for n in names}

    names = retry_plan(full, prior)
    retried = apply_retries(time_queries, names, full, timings)
    assert calls == ["spiked"]             # exactly one re-run, once
    assert retried == {"spiked": {"first": 9.0, "retry": 3.0}}
    assert full["spiked"] == 3.0 and timings["spiked"] == 3.0
    assert full["fast"] == 1.1 and full["tail_only"] == 7.0

    # A retry that comes back SLOWER never regresses the record.
    full2, timings2 = {"q": 2.0}, {"q": 2.0}
    retried2 = apply_retries(
        lambda ns: {n: 5.0 for n in ns}, ["q"], full2, timings2
    )
    assert retried2 == {"q": {"first": 2.0, "retry": 5.0}}
    assert full2["q"] == 2.0 and timings2["q"] == 2.0


def test_apply_retries_budget_exhaustion_stamps_skipped():
    """r12 wall-clock budget: the first min_count retries always run;
    past both the floor and the budget, remaining outliers are stamped
    skipped (first reading kept, visible in the artifact) instead of
    standing unadjudicated as clean readings."""
    from bench import apply_retries

    names = ["a", "b", "c", "d"]          # worst-first order
    full = {n: 9.0 for n in names}
    timings = {"a": 9.0, "d": 9.0}        # two are headline queries
    ticks = iter([0.0, 5.0, 15.0])        # start, check@c, check@d

    retried = apply_retries(
        lambda ns: {n: 3.0 for n in ns},
        names,
        full,
        timings,
        budget_sec=10.0,
        min_count=2,
        clock=lambda: next(ticks),
    )
    # a, b ran under the min_count floor; c ran at 5s (< budget);
    # d hit the exhausted budget at 15s.
    assert retried["a"] == {"first": 9.0, "retry": 3.0}
    assert retried["b"] == {"first": 9.0, "retry": 3.0}
    assert retried["c"] == {"first": 9.0, "retry": 3.0}
    assert retried["d"] == {"first": 9.0, "skipped": "retry budget exhausted"}
    assert full == {"a": 3.0, "b": 3.0, "c": 3.0, "d": 9.0}
    assert timings == {"a": 3.0, "d": 9.0}  # skipped keeps first reading


def test_apply_retries_min_count_floor_ignores_budget():
    """A hosed machine can make each retry slower than the whole
    budget — the first min_count retries run anyway (never LESS
    adjudication than the r11 protocol gave)."""
    from bench import apply_retries

    names = [f"q{i}" for i in range(4)]
    full = {n: 9.0 for n in names}
    ticks = iter([0.0, 500.0, 600.0])     # budget blown immediately

    retried = apply_retries(
        lambda ns: {n: 1.0 for n in ns},
        names,
        full,
        {},
        budget_sec=10.0,
        min_count=2,
        clock=lambda: next(ticks),
    )
    assert retried["q0"]["retry"] == 1.0 and retried["q1"]["retry"] == 1.0
    assert retried["q2"] == {"first": 9.0, "skipped": "retry budget exhausted"}
    assert retried["q3"] == {"first": 9.0, "skipped": "retry budget exhausted"}


def test_apply_retries_exception_keeps_first_reading_and_continues():
    """ADVICE r11 (medium): a transient failure on one retry — most
    likely on exactly the degraded machine the protocol targets — must
    not crash main() after the whole timed suite. The first reading
    stands, the error is stamped, later retries still run."""
    from bench import apply_retries

    full = {"boom": 9.0, "ok": 8.0}
    timings = {"boom": 9.0, "ok": 8.0}

    def time_queries(names):
        if names == ["boom"]:
            raise RuntimeError("executor lost")
        return {n: 2.0 for n in names}

    retried = apply_retries(time_queries, ["boom", "ok"], full, timings)
    assert retried["boom"] == {
        "first": 9.0, "error": "RuntimeError: executor lost"}
    assert retried["ok"] == {"first": 8.0, "retry": 2.0}
    assert full == {"boom": 9.0, "ok": 2.0}
    assert timings == {"boom": 9.0, "ok": 2.0}


def test_window_degraded_prior_floor_is_min_across_records():
    """ADVICE r11: a degraded LATEST record (inflated floor) must not
    silence the uniform-contention stamp when older committed records
    show the machine's true floor — prior_floor is the min across the
    lookback list, mirroring retry_baseline."""
    from bench import window_degraded

    degraded_latest = {"canary": {"start": 0.40, "mid": 0.38, "end": 0.41}}
    clean_older = {"canary": {"start": 0.14, "mid": 0.12, "end": 0.11}}
    uniform_busy = {"slowdown": 1.03, "start": 0.35, "mid": 0.34, "end": 0.36}
    # vs the degraded latest alone: ratio ~0.92 — masked.
    assert not window_degraded(uniform_busy, [degraded_latest])
    # With the older clean record in the lookback: ratio ~3.1 — fires.
    assert window_degraded(uniform_busy, [degraded_latest, clean_older])
    # Records without canaries are skipped, not fatal.
    assert window_degraded(uniform_busy, [{}, {"canary": {}}, clean_older])


def test_normalized_headline():
    """verdict r11 stretch 7: headline x prior_floor / this_floor,
    prior_floor = min over the lookback records; None (fall back to
    raw) when either floor is unavailable."""
    from bench import normalized_headline

    canary = {"start": 0.24, "mid": 0.22, "end": 0.23}   # floor 0.22
    recs = [{"canary": {"start": 0.40, "mid": 0.39, "end": 0.41}},
            {"canary": {"start": 0.14, "mid": 0.12, "end": 0.11}}]  # min 0.11
    assert normalized_headline(100.0, canary, recs) == 50.0
    # Single-record dict form accepted.
    assert normalized_headline(100.0, canary, recs[1]) == 50.0
    assert normalized_headline(100.0, canary, []) is None
    assert normalized_headline(100.0, {}, recs) is None
    # Corrupt record with a 0.0 floor must fall back to None, not
    # stamp a "100% speedup" of 0.0 (review r12 — window_degraded
    # guards prior_floor > 0; this is the same guard).
    zero = [{"canary": {"start": 0.0, "mid": 0.0, "end": 0.0}}]
    assert normalized_headline(100.0, canary, zero) is None


def test_qualifying_records_exclude_untracked(tmp_path):
    """ADVICE r11: the retry baseline and prior-record lookup are
    defined over COMMITTED history — an untracked leftover (aborted
    run, stale driver-sim artifact) in a git repo must not feed them.
    Outside a git repo (every other tmp_path test here) the filter is
    inert and the glob is trusted."""
    import pathlib
    import subprocess

    from bench import retry_baseline

    def w(k, queries):
        (tmp_path / f"BENCH_FULL_r{k:02d}.json").write_text(
            json.dumps({"sf": "0.1", "queries": queries})
        )

    def git(*args):
        subprocess.run(
            ["git", "-C", str(tmp_path), *args],
            check=True, capture_output=True,
            env={"GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
                 "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t",
                 "HOME": str(tmp_path), "PATH": "/usr/bin:/bin:/usr/local/bin"},
        )

    w(9, {"q": 2.0})
    git("init", "-q")
    git("add", "BENCH_FULL_r09.json")
    git("commit", "-qm", "rec")
    w(10, {"q": 0.001})                    # untracked leftover
    base = retry_baseline(pathlib.Path(tmp_path), 12, "0.1")
    assert base == {"q": 2.0}              # the leftover is invisible
    git("add", "BENCH_FULL_r10.json")      # staged but NOT committed
    base = retry_baseline(pathlib.Path(tmp_path), 12, "0.1")
    assert base == {"q": 2.0}              # still invisible
    git("commit", "-qm", "rec2")
    base = retry_baseline(pathlib.Path(tmp_path), 12, "0.1")
    assert base == {"q": 0.001}            # committed now — qualifies
    # Uncommitted MODIFICATIONS to a tracked record (review r12: an
    # in-round twin run overwrites the committed record in place) do
    # not feed the baseline — content comes from HEAD, not the tree.
    w(10, {"q": 0.000001})
    base = retry_baseline(pathlib.Path(tmp_path), 12, "0.1")
    assert base == {"q": 0.001}            # committed content, not tree


def test_retry_baseline_min_across_lookback(tmp_path):
    """The retry threshold base is the per-query MIN over the last
    `lookback` qualifying records — a degraded latest record must not
    raise the >2x thresholds (r11: the r10 closing record reads up to
    5x cold for several queries)."""
    import pathlib

    from bench import load_prior_record, retry_baseline

    def w(k, sf, queries, canary=None):
        rec = {"sf": sf, "queries": queries}
        if canary:
            rec["canary"] = canary
        (tmp_path / f"BENCH_FULL_r{k:02d}.json").write_text(json.dumps(rec))

    w(8, "0.1", {"q": 3.0, "old_only": 1.0})
    w(9, "0.1", {"q": 2.0, "both": 4.0})
    w(10, "0.1", {"q": 9.0, "both": 5.0, "new_only": 7.0},
      canary={"start": 0.14, "mid": 0.22, "end": 0.2})
    base = retry_baseline(pathlib.Path(tmp_path), 11, "0.1")
    assert base == {"q": 2.0, "old_only": 1.0, "both": 4.0, "new_only": 7.0}
    # lookback window slides: with lookback=1 only r10 counts.
    assert retry_baseline(pathlib.Path(tmp_path), 11, "0.1", lookback=1) == {
        "q": 9.0, "both": 5.0, "new_only": 7.0}
    # The canary forensic stamp still reads the LATEST record only.
    assert load_prior_record(pathlib.Path(tmp_path), 11, "0.1")[
        "canary"]["start"] == 0.14
    assert retry_baseline(pathlib.Path(tmp_path), 8, "0.1") == {}


def test_stdout_record_contract_keys_and_order():
    """The printed line keeps the driver contract (metric/value/unit/
    queries/sf) with the big dict FIRST and scalars LAST (tail-capture
    safety), retries summarized to counts, and canary raw dropped."""
    from bench import stdout_record

    timings = {"q_a": 1.5, "q_b": 0.25}
    canary = {"start": 0.1, "mid": 0.12, "end": 0.11, "spread": 1.2,
              "slowdown": 1.2, "window_degraded": False,
              "raw": {"start": [0.1, 0.1, 0.1]}}
    retried = {
        "q_a": {"first": 3.0, "retry": 1.5},
        "q_b": {"first": 2.0, "skipped": "retry budget exhausted"},
        "q_c": {"first": 1.0, "error": "RuntimeError: boom"},
    }
    rec = stdout_record(timings, "0.1", canary, retried,
                        full_total=42.5, headline_norm=1.6)
    keys = list(rec)
    assert keys[0] == "queries" and keys[-1] == "value"
    assert rec["metric"] == "headline_suite_seconds"
    assert rec["unit"] == "sec"
    assert rec["sf"] == 0.1
    assert rec["value"] == rec["headline_suite_seconds"] == 1.75
    assert rec["queries"] == timings
    assert rec["full_suite_seconds"] == 42.5
    assert rec["headline_normalized"] == 1.6
    # Retries: counts only — per-query stamps live in BENCH_FULL.
    assert rec["retries"] == {
        "n": 3, "kept_min": 1, "skipped": 1, "errored": 1}
    # Canary: forensic raw triples live in BENCH_FULL, not stdout.
    assert "raw" not in rec["canary"]
    assert rec["canary"]["slowdown"] == 1.2


def test_stdout_record_worst_case_line_under_budget():
    """r12 verdict task 2: the r11 stdout line (~9 KB: 158-query
    full_suite + 12 per-query retry stamps) outgrew the driver's
    capture and parsed null, nulling the PERF table two rounds
    running. Pin the worst case: every HEADLINE query at a 4-digit
    reading, EVERY query retried, normalized stamp present — the line
    must stay under STDOUT_LINE_BUDGET so the driver can always parse
    it."""
    import bench
    from bench import STDOUT_LINE_BUDGET, stdout_record

    timings = {n: 9999.999 for n in bench.HEADLINE}
    canary = {"start": 9999.999, "mid": 9999.999, "end": 9999.999,
              "spread": 99.999, "slowdown": 99.999,
              "window_degraded": True,
              "raw": {k: [9999.999] * 3 for k in ("start", "mid", "end")}}
    retried = {n: {"first": 9999.999, "retry": 9999.999}
               for n in bench.HEADLINE}
    rec = stdout_record(timings, "0.1", canary, retried,
                        full_total=9999999.999, headline_norm=9999.999)
    line = json.dumps(rec)
    assert len(line) < STDOUT_LINE_BUDGET, len(line)
    # And the full-suite headline mode line (no full_total) too.
    assert len(json.dumps(stdout_record(
        timings, "0.1", canary, {}, full_total=None, headline_norm=None,
    ))) < STDOUT_LINE_BUDGET


def test_stdout_record_headline_mode_omits_optional_scalars():
    from bench import stdout_record

    rec = stdout_record({"q": 1.0}, "0.01", {"start": 0.1}, {})
    assert "full_suite" not in rec
    assert "full_suite_seconds" not in rec
    assert "headline_normalized" not in rec
    assert "retries" not in rec
    assert rec["sf"] == 0.01


# ------------------------------------------- machine stamp (core count)


def test_other_core_count_prior_never_used_as_baseline_or_floor(tmp_path):
    """BENCH_FULL_r14 held the 8-core leg of a 32-core round: records
    carried no core count, so retry baselines and canary floors mixed
    machines. An 8-core prior (even the newest) and an unstamped
    legacy record must never feed a 32-core run's retry baseline or
    canary floor."""
    import pathlib

    from bench import (
        load_prior_records,
        normalized_headline,
        retry_baseline,
        window_degraded,
    )

    c32 = {"cpus": 32, "pyspark": "4.1.2", "python": "3.11.9"}
    c8 = c32 | {"cpus": 8}

    def w(k, stamp, q, floor):
        rec = {"sf": "0.1", **stamp, "queries": {"q": q},
               "canary": {"start": floor, "mid": floor, "end": floor}}
        (tmp_path / f"BENCH_FULL_r{k:02d}.json").write_text(json.dumps(rec))

    w(8, {}, 0.1, 0.05)       # legacy, unstamped: machine unknown
    w(9, c32, 4.0, 0.20)
    w(10, c8, 9.0, 0.60)      # newest, but the 8-core leg
    repo = pathlib.Path(tmp_path)
    assert retry_baseline(repo, 11, "0.1", stamp=c32) == {"q": 4.0}
    assert retry_baseline(repo, 11, "0.1", stamp=c8) == {"q": 9.0}
    recs = load_prior_records(repo, 11, "0.1", stamp=c32)
    assert [r["cpus"] for r in recs] == [32]
    # Canary floor = 0.20 from the 32-core record only: a 32-core
    # session at 0.21 is not degraded (the legacy 0.05 floor would
    # flag it) and the normalized headline scales by 0.20 / 0.21.
    here = {"slowdown": 1.0, "start": 0.21, "mid": 0.21, "end": 0.21}
    assert not window_degraded(here, recs)
    assert normalized_headline(21.0, here, recs) == 20.0
    # A different pyspark or Python version is a different machine too.
    assert retry_baseline(
        repo, 11, "0.1", stamp=c32 | {"pyspark": "4.0.0"}) == {}


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


def test_headline_mode_retry_stamps_go_to_stderr(capsys):
    """Headline mode writes no BENCH_FULL record, so the per-query
    retry stamps would be persisted nowhere: log_retries prints the
    whole dict to stderr, while the stdout line keeps counts only and
    stays under budget."""
    import bench
    from bench import STDOUT_LINE_BUDGET, log_retries, stdout_record

    canary = {"start": 0.1, "slowdown": 1.0, "window_degraded": False}
    retried = {n: {"first": 9999.999, "retry": 9999.999}
               for n in bench.HEADLINE}
    retried[bench.HEADLINE[0]] = {"first": 9.0, "error": "RuntimeError: x"}
    log_retries(retried, canary, persisted=False)
    err = capsys.readouterr().err.strip().splitlines()
    assert json.loads(err[-1]) == {"retries": retried}
    line = json.dumps(stdout_record(
        {n: 9999.999 for n in bench.HEADLINE}, "0.1", canary, retried))
    assert len(line) < STDOUT_LINE_BUDGET, len(line)
    assert "first" not in line
    # With a record written, stderr carries the one summary line only.
    log_retries(retried, canary, persisted=True)
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and "under 'retries'" in err[0]
    log_retries({}, canary, persisted=False)
    assert capsys.readouterr().err == ""


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
