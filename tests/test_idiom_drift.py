"""Anti-drift guard for the tie-proof rounding idioms (round-5 review):

Some oracle SQL strings carry the exact_ratio / det_round expansions
inline (inserted at patch time) rather than composing the helper at
import. This test makes drift impossible anyway: every idiom-shaped
substring in every registered oracle must be EXACTLY what the
canonical generator in queries/_util.py produces today for the same
(num, den, dp) — so a helper change that isn't propagated to an
inlined copy fails here, as does any hand-edited variant (e.g. the
pre-nullif form that lacked the zero-denominator guard).
"""

from __future__ import annotations

import re

from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
from mit6_5840_6_824_lab1_mapreduce_spark.queries._util import (
    det_round_sql,
    exact_ratio_split_sql,
    exact_ratio_sql,
    exact_ratio_wide_sql,
)

# The generator skeletons, parameterized: capture (num, s, den).
_RATIO_RE = re.compile(
    r"\(CAST\(\(2 \* CAST\(\((?P<num>.*?)\) AS BIGINT\) \* (?P<s>\d+)"
    r" \+ CAST\(\((?P<den>.*?)\) AS BIGINT\)\)"
    r" // \(2 \* nullif\(CAST\(\((?P=den)\) AS BIGINT\), 0\)\) AS DOUBLE\)"
    r" / CAST\((?P=s) AS DOUBLE\)\)"
)
_WIDE_RE = re.compile(
    r"\(CAST\(\(2 \* CAST\(\((?P<num>.*?)\) AS HUGEINT\) \* (?P<s>\d+)"
    r" \+ CAST\(\((?P<den>.*?)\) AS HUGEINT\)\)"
    r" // \(2 \* nullif\(CAST\(\((?P=den)\) AS HUGEINT\), 0\)\) AS DOUBLE\)"
    r" / CAST\((?P=s) AS DOUBLE\)\)"
)
# The r07 split variant (exact past 2^53): CASE between plain cast
# and integer/fraction split, three copies of the same quotient core.
_SPLIT_RE = re.compile(
    r"\(CASE WHEN \(\(2 \* CAST\(\((?P<num>.*?)\) AS BIGINT\) \* (?P<s>\d+)"
    r" \+ CAST\(\((?P<den>.*?)\) AS BIGINT\)\)"
    r" // \(2 \* nullif\(CAST\(\((?P=den)\) AS BIGINT\), 0\)\)\)"
    r" < CAST\(\d+ AS BIGINT\) THEN.*?END\)",
    re.DOTALL,
)
# Any idiom-LOOKING fragment that the strict skeletons above do not
# match (a drifted copy): the structural core without the full form.
_LOOSE_RATIO = re.compile(r"\(2 \* CAST\(\(.*?\) AS (BIGINT|HUGEINT)\)")
_OLD_SKELETON = re.compile(r"// \(2 \* CAST\(\(.*?\) AS (BIGINT|HUGEINT)\)\)")


def _dp_of(s: str) -> int:
    return len(s) - 1  # 10^dp -> dp


def test_every_inlined_ratio_matches_the_canonical_generator():
    checked = 0
    for name, e in REGISTRY.items():
        sql = e.oracle
        if not sql:
            continue
        assert not _OLD_SKELETON.search(sql), (
            f"{name}: oracle carries a pre-nullif (drifted) idiom copy"
        )
        strict_spans: list[tuple[int, int]] = []
        for m in _RATIO_RE.finditer(sql):
            want = exact_ratio_sql(m.group("num"), m.group("den"),
                                   _dp_of(m.group("s")))
            assert m.group(0) == want, f"{name}: ratio idiom drifted"
            strict_spans.append(m.span())
            checked += 1
        for m in _WIDE_RE.finditer(sql):
            want = exact_ratio_wide_sql(m.group("num"), m.group("den"),
                                        _dp_of(m.group("s")))
            assert m.group(0) == want, f"{name}: wide idiom drifted"
            strict_spans.append(m.span())
            checked += 1
        for m in _SPLIT_RE.finditer(sql):
            want = exact_ratio_split_sql(m.group("num"), m.group("den"),
                                         _dp_of(m.group("s")))
            assert m.group(0) == want, f"{name}: split idiom drifted"
            strict_spans.append(m.span())
            checked += 1
        # Enforcement for the loose pattern (advisor r05: it was
        # compiled but unused): every idiom-LOOKING fragment must lie
        # inside a strict-skeleton match — an uncontained hit is a
        # drifted inline copy the strict regexes no longer recognize.
        for m in _LOOSE_RATIO.finditer(sql):
            contained = any(a <= m.start() and m.end() <= b
                            for a, b in strict_spans)
            assert contained, (
                f"{name}: idiom-looking fragment at offset {m.start()} "
                f"({m.group(0)!r}) matches no canonical skeleton — "
                f"drifted inline copy"
            )
    # The sweep converted dozens of sites; if this drops to a handful,
    # the regexes stopped matching the generator (also drift).
    assert checked >= 30, f"only {checked} idiom sites recognized"


_DET_RE = re.compile(
    r"\(CASE WHEN abs\((?P<x>.*?)\) >= (?P<thr>[0-9.e+]+) THEN \((?P=x)\) ELSE "
    r"CAST\(floor\(\((?P=x)\) \* CAST\((?P<s>\d+) AS DOUBLE\) \+ 0\.5\) AS DOUBLE\)"
    r" / CAST\((?P=s) AS DOUBLE\) END\)"
)


def test_every_inlined_det_round_matches_the_canonical_generator():
    checked = 0
    for name, e in REGISTRY.items():
        sql = e.oracle
        if not sql:
            continue
        for m in _DET_RE.finditer(sql):
            want = det_round_sql(m.group("x"), _dp_of(m.group("s")))
            assert m.group(0) == want, f"{name}: det_round idiom drifted"
            checked += 1
    assert checked >= 10, f"only {checked} det_round sites recognized"
