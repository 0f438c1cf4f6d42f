"""Battery for the three queries staged in r10
(queries/multimodal.py §r10): the compressed-codec decode paths —
PNG (stdlib zlib), G.711 mu-law/A-law (ITU-T formulas), MS-RLE8
(run-length) — each with a fully arithmetic DuckDB oracle that
re-derives the decoded statistics from the generation contract (for
G.711 the oracle is a complete second implementation of the codec in
integer SQL). Staged in r10 (hold-at-155 policy), PROMOTED to the
registry in r11 per the r10 verdict's task 1 — the battery keyed on
these names survives the flip, per the r08→r09 precedent. Two-scale
oracle parity + the registry sweep's degenerate fixtures; the
codec-level unit coverage (cross-format oracles, reference-table
bit-exactness, malformed-input rejection) lives in
tests/test_multimodal.py."""

from __future__ import annotations

import pytest

from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
from tests.oracle_check import compare_query
from tools.degenerate_sweep import write_fixture

from .conftest import SF_CORRECT, SF_SMOKE

PROMOTED_R10 = [
    "multimodal_png_decode",
    "multimodal_g711_decode",
    "multimodal_rle8_decode",
]


def test_r10_cohort_promoted():
    """r11 flipped the three r10-staged decorators to @query (r10
    verdict task 1): every name is registered with an oracle and
    driver-visible."""
    import __spark_entry__ as entry

    for name in PROMOTED_R10:
        assert name in REGISTRY, name
        assert REGISTRY[name].oracle, name
        assert name in entry.queries(), name


@pytest.mark.parametrize("name", PROMOTED_R10)
@pytest.mark.parametrize("sf_dir", [SF_CORRECT, SF_SMOKE])
def test_staged_r10_oracle_parity(spark, name, sf_dir):
    e = REGISTRY[name]
    compare_query(spark, e.fn, e.oracle, sf_dir, name)


@pytest.fixture(
    scope="module",
    params=["empty", "minimal", "nulls", "unicode", "timewarp", "clique"],
)
def degen_dir(request, tmp_path_factory):
    return write_fixture(
        str(tmp_path_factory.mktemp("staged_r10_degen") / request.param),
        request.param,
    )


@pytest.mark.parametrize("name", PROMOTED_R10)
def test_staged_r10_degenerate_parity(spark, name, degen_dir):
    """Same adversarial fixtures as the registry-wide sweep — a
    promoted query diverging on them would fail the sweep, so it
    fails here first."""
    e = REGISTRY[name]
    compare_query(spark, e.fn, e.oracle, degen_dir, name)
