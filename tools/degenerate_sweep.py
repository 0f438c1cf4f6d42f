"""Registry-wide degenerate-input sweep: run EVERY registered query
(Spark + DuckDB oracle, same compare as the driver) against six
adversarial fixtures that production always eventually serves:

- ``empty``   — every table present with the exact production schema
                and ZERO rows (a tenant slice, a fresh partition, a
                filtered-to-nothing date range);
- ``minimal`` — one-to-two rows per table with degenerate values:
                empty strings, zero money/quantities, a zero-norm
                embedding pair on one label, an empty-text document;
- ``nulls``   — true SQL NULLs in every nullable column (NULL
                text/keys/money/timestamps, NULL embedding lists and
                elements), the class ``minimal``'s empty strings
                never touch;
- ``unicode`` — multibyte text everywhere (CJK, combining accents,
                emoji, RTL Arabic) probing byte-vs-char divergences
                of the levenshtein class through the tokenizer /
                shingle / substring / digest paths;
- ``timewarp``— timestamps at negative epoch / epoch zero / leap
                days / far future, probing floor-vs-truncate and
                calendar divergences in the time-bucketing paths;
- ``clique``  — maximal duplication: 24 byte-identical documents
                (hot-bucket caps in their total-drop regime, one
                276-pair verify clique, CC one component), identical
                embeddings, one user owning a 40-event session.

Both round-6 crash bugs (corpus_mixture_plan DIVIDE_BY_ZERO on a
zero-token corpus, embedding_quantize_int8 on a dead label) were this
class; this sweep triages the remaining registry systematically. The
committed regression test is tests/test_registry_degenerate_parity.py;
this script is the triage tool that reports ALL outcomes instead of
failing fast.

Exit status: 0 iff every non-pinned (query, fixture) run is OK —
the documented pinned divergences (2 empty + 2 unicode + 2 nulls,
each a written, loud-by-design contract) are
allowlisted (ALLOWLIST, imported by the test module so tool and
tests cannot disagree), and a pin whose failure MODE changes is
still reported (per-query expected markers, not a per-fixture
union).

Usage: python tools/degenerate_sweep.py
           [--fixture empty|minimal|nulls|unicode|timewarp|clique|all]
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TS0 = "2024-01-01T00:00:00"
TS1 = "2024-01-01T01:00:00"


def _schema(t: str) -> pa.Schema:
    return pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")


# Minimal-fixture rows, column-major, matching the production schemas.
MINIMAL_ROWS: dict[str, dict[str, list]] = {
    "region": {"r_regionkey": [0], "r_name": [""]},
    "nation": {"n_nationkey": [0], "n_name": [""], "n_regionkey": [0]},
    "customer": {
        "c_custkey": [1],
        "c_name": [""],
        "c_nationkey": [0],
        "c_acctbal": [0.0],
        "c_mktsegment": [""],
    },
    "supplier": {
        "s_suppkey": [1],
        "s_name": [""],
        "s_nationkey": [0],
        "s_acctbal": [0.0],
    },
    "part": {
        "p_partkey": [1],
        "p_name": [""],
        "p_brand": [""],
        "p_type": [""],
        "p_size": [0],
        "p_retailprice": [0.0],
    },
    "orders": {
        "o_orderkey": [1],
        "o_custkey": [1],
        "o_orderstatus": ["O"],
        "o_totalprice": [0.0],
        "o_orderdate": [TS0],
        "o_orderpriority": [""],
    },
    "lineitem": {
        "l_orderkey": [1],
        "l_partkey": [1],
        "l_suppkey": [1],
        "l_linenumber": [1],
        "l_quantity": [0.0],
        "l_extendedprice": [0.0],
        "l_discount": [0.0],
        "l_tax": [0.0],
        "l_returnflag": [""],
        "l_linestatus": [""],
        "l_shipdate": [TS0],
    },
    "events": {
        "event_id": [0, 1],
        "ts": [TS0, TS1],
        "user_id": [1, 1],
        "event_type": ["", "purchase"],
        "value": [0.0, 0.0],
        "props": ["{}", "{}"],
    },
    "documents": {
        "doc_id": [1, 2],
        "text": ["", "a"],
        "lang": ["en", "en"],
        "source": ["src0", "src0"],
        "n_chars": [0, 1],
    },
    "embeddings": {
        "vec_id": [1, 2],
        "embedding": [[0.0] * 64, [0.0] * 64],
        "label": [0, 0],
    },
}


# Unicode fixture: multibyte text through every operator — CJK (no
# spaces inside words), combining accents (é as e+U+0301), emoji
# (non-letters, outside \p{L}), RTL Arabic. Probes byte-vs-char traps
# of the levenshtein class (DuckDB counts bytes, Spark characters)
# in the tokenizer / shingle / substring / digest paths. n_chars =
# Python len() = code points (both engines' length() agree on that).
_UNI_TEXTS = [
    "中文 文本 处理 中文 文本 处理 数据 管道 中文 文本",
    "café naïve déjà vu café naïve déjà vu encore une fois",
    "🎉 party 🎉 time emoji 🚀 rocket test again and again 🎉",
    "مرحبا بالعالم هذا نص عربي للاختبار مرحبا بالعالم",
    "élève résumé élève résumé fin",
]

UNICODE_ROWS: dict[str, dict[str, list]] = {
    "region": {"r_regionkey": [0], "r_name": ["ASIE 亚洲"]},
    "nation": {"n_nationkey": [0], "n_name": ["日本"], "n_regionkey": [0]},
    "customer": {
        "c_custkey": [1],
        "c_name": ["客户#001 müller"],
        "c_nationkey": [0],
        "c_acctbal": [10.5],
        "c_mktsegment": ["BUILDING"],
    },
    "supplier": {
        "s_suppkey": [1],
        "s_name": ["fournisseur#1 çédille"],
        "s_nationkey": [0],
        "s_acctbal": [2.25],
    },
    "part": {
        "p_partkey": [1],
        "p_name": ["部件 ünïté vert"],
        "p_brand": ["Brand#中"],
        "p_type": ["論理 TYPE"],
        "p_size": [3],
        "p_retailprice": [9.99],
    },
    "orders": {
        "o_orderkey": [1],
        "o_custkey": [1],
        "o_orderstatus": ["O"],
        "o_totalprice": [9.99],
        "o_orderdate": [TS0],
        "o_orderpriority": ["1-URGENT"],
    },
    "lineitem": {
        "l_orderkey": [1],
        "l_partkey": [1],
        "l_suppkey": [1],
        "l_linenumber": [1],
        "l_quantity": [1.0],
        "l_extendedprice": [9.99],
        "l_discount": [0.1],
        "l_tax": [0.05],
        "l_returnflag": ["Ř"],
        "l_linestatus": ["Ø"],
        "l_shipdate": [TS0],
    },
    "events": {
        "event_id": [0, 1, 2],
        "ts": [TS0, TS1, TS1],
        "user_id": [1, 1, 2],
        "event_type": ["click", "购买", "view"],
        "value": [1.5, 2.5, 0.0],
        "props": ['{"k": "日本語"}', '{"k": "héllo"}', "{}"],
    },
    "documents": {
        "doc_id": list(range(1, len(_UNI_TEXTS) + 1)),
        "text": _UNI_TEXTS,
        "lang": ["zh", "fr", "en", "es", "fr"],
        "source": [f"src{i}" for i in range(len(_UNI_TEXTS))],
        "n_chars": [len(t) for t in _UNI_TEXTS],
    },
    "embeddings": {
        "vec_id": [1, 2],
        "embedding": [[0.5] * 64, [-0.5] * 64],
        "label": [0, 1],
    },
}

# Timewarp fixture: timestamps production never tests but history
# contains — NEGATIVE epoch (pre-1970: floor-vs-truncate divergences
# in time bucketing only show here), epoch zero, leap days (century
# leap 2000-02-29 included), and far future kept inside pandas'
# ns-backed Timestamp range (≤ 2262). Events give one user a pair of
# pre-epoch events 10 minutes apart so sessionization / range-join
# bucketing actually bucket negative micros.
_TW_TS = [
    "1969-07-20T20:17:40",  # negative epoch
    "1969-07-20T20:27:40",  # same user, +10 min (one session)
    "1970-01-01T00:00:00",  # epoch zero
    "2000-02-29T23:59:59",  # century leap day
    "2024-02-29T12:00:00",  # leap day
    "2200-01-01T00:00:00",  # far future, pandas-safe
]

TIMEWARP_ROWS: dict[str, dict[str, list]] = {
    "region": {"r_regionkey": [0], "r_name": ["ASIA"]},
    "nation": {"n_nationkey": [0], "n_name": ["JAPAN"], "n_regionkey": [0]},
    "customer": {
        "c_custkey": [1],
        "c_name": ["Customer#1"],
        "c_nationkey": [0],
        "c_acctbal": [100.0],
        "c_mktsegment": ["BUILDING"],
    },
    "supplier": {
        "s_suppkey": [1],
        "s_name": ["Supplier#1"],
        "s_nationkey": [0],
        "s_acctbal": [50.0],
    },
    "part": {
        "p_partkey": [1],
        "p_name": ["green part"],
        "p_brand": ["Brand#1"],
        "p_type": ["PROMO BRUSHED"],
        "p_size": [5],
        "p_retailprice": [100.0],
    },
    "orders": {
        "o_orderkey": [1, 2, 3],
        "o_custkey": [1, 1, 1],
        "o_orderstatus": ["O", "F", "O"],
        "o_totalprice": [10.0, 20.0, 30.0],
        "o_orderdate": ["1969-07-20T20:17:40", "1970-01-01T00:00:00",
                        "2200-01-01T00:00:00"],
        "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM"],
    },
    "lineitem": {
        "l_orderkey": [1, 2, 3],
        "l_partkey": [1, 1, 1],
        "l_suppkey": [1, 1, 1],
        "l_linenumber": [1, 1, 1],
        "l_quantity": [1.0, 2.0, 3.0],
        "l_extendedprice": [10.0, 20.0, 30.0],
        "l_discount": [0.05, 0.1, 0.0],
        "l_tax": [0.02, 0.04, 0.08],
        "l_returnflag": ["N", "R", "A"],
        "l_linestatus": ["O", "F", "F"],
        "l_shipdate": ["1969-07-21T00:00:00", "1970-01-02T00:00:00",
                       "2200-01-02T00:00:00"],
    },
    "events": {
        "event_id": [0, 1, 2, 3, 4, 5],
        "ts": _TW_TS,
        "user_id": [1, 1, 2, 2, 3, 3],
        "event_type": ["signup", "click", "click", "purchase", "view", "error"],
        "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        "props": ['{"k": 1}'] * 6,
    },
    "documents": {
        "doc_id": [1, 2],
        "text": ["alpha beta gamma delta", "alpha beta gamma delta"],
        "lang": ["en", "en"],
        "source": ["src0", "src1"],
        "n_chars": [22, 22],
    },
    "embeddings": {
        "vec_id": [1, 2],
        "embedding": [[0.5] * 64, [0.25] * 64],
        "label": [0, 1],
    },
}

# Clique fixture: MAXIMAL duplication — 24 byte-identical documents
# (every MinHash band bucket holds 24 rows, far past the cap of 2,
# so the capped variants run in their total-drop regime while the
# uncapped path verifies a 276-pair clique and CC collapses the
# corpus to one component + one singleton), identical zero-distance
# embeddings on one label, and one user owning a 40-event
# single-session stream (hot-key skew in every per-user aggregate).
_CLIQUE_TEXT = (
    "the quick brown fox jumps over the lazy dog again and again today"
)
_N_CLIQUE = 24
_CLQ_EVENTS = 40

TIMEBASE = "2024-01-01T00:{m:02d}:00"

CLIQUE_ROWS: dict[str, dict[str, list]] = {
    "region": {"r_regionkey": [0], "r_name": ["ASIA"]},
    "nation": {"n_nationkey": [0], "n_name": ["JAPAN"], "n_regionkey": [0]},
    "customer": {
        "c_custkey": [1, 2],
        "c_name": ["Customer#1", "Customer#2"],
        "c_nationkey": [0, 0],
        "c_acctbal": [100.0, 0.0],
        "c_mktsegment": ["BUILDING", "AUTOMOBILE"],
    },
    "supplier": {
        "s_suppkey": [1],
        "s_name": ["Supplier#1"],
        "s_nationkey": [0],
        "s_acctbal": [50.0],
    },
    "part": {
        "p_partkey": [1],
        "p_name": ["green part"],
        "p_brand": ["Brand#1"],
        "p_type": ["PROMO BRUSHED"],
        "p_size": [5],
        "p_retailprice": [100.0],
    },
    # one customer owns every order — per-customer skew
    "orders": {
        "o_orderkey": list(range(1, 9)),
        "o_custkey": [1] * 7 + [2],
        "o_orderstatus": ["O"] * 8,
        "o_totalprice": [10.0 * k for k in range(1, 9)],
        "o_orderdate": ["1996-03-%02dT00:00:00" % d for d in range(1, 9)],
        "o_orderpriority": ["1-URGENT"] * 8,
    },
    # one order owns every lineitem — per-key skew on the join side
    "lineitem": {
        "l_orderkey": [1] * 7,
        "l_partkey": [1] * 7,
        "l_suppkey": [1] * 7,
        "l_linenumber": list(range(1, 8)),
        "l_quantity": [float(k) for k in range(1, 8)],
        "l_extendedprice": [10.0] * 7,
        "l_discount": [0.05] * 7,
        "l_tax": [0.02] * 7,
        "l_returnflag": ["N"] * 7,
        "l_linestatus": ["O"] * 7,
        "l_shipdate": ["1996-03-%02dT00:00:00" % d for d in range(2, 9)],
    },
    "events": {
        "event_id": list(range(_CLQ_EVENTS + 1)),
        "ts": [TIMEBASE.format(m=i) for i in range(_CLQ_EVENTS)]
        + ["2024-01-02T00:00:00"],
        "user_id": [1] * _CLQ_EVENTS + [2],
        "event_type": (["signup"] + ["click", "view", "purchase", "error"] * 10)[
            :_CLQ_EVENTS
        ]
        + ["view"],
        "value": [float(i) for i in range(_CLQ_EVENTS)] + [1.0],
        "props": ['{"k": %d}' % (i % 3) for i in range(_CLQ_EVENTS)] + ["{}"],
    },
    "documents": {
        "doc_id": list(range(1, _N_CLIQUE + 2)),
        "text": [_CLIQUE_TEXT] * _N_CLIQUE + ["completely different text here"],
        "lang": ["en"] * (_N_CLIQUE + 1),
        "source": ["src%d" % (i % 3) for i in range(_N_CLIQUE)] + ["src9"],
        "n_chars": [len(_CLIQUE_TEXT)] * _N_CLIQUE
        + [len("completely different text here")],
    },
    "embeddings": {
        "vec_id": list(range(1, 13)),
        "embedding": [[1.0] * 64] * 10 + [[0.5] * 64, [-1.0] * 64],
        "label": [0] * 10 + [1, 1],
    },
}


# ``nulls`` fixture (round 7): true SQL NULLs in every nullable
# column — a class ``minimal`` (empty strings / zeros) never touches.
# Production parquet always eventually carries them (outer-join
# results, schema evolution, bad upstream writers). Probes: NULL
# propagation through regexp/HOF/md5 paths (both engines must agree
# NULL in -> NULL out, or drop identically), NULL group keys (both
# engines emit one NULL group), NULL join keys (equi-joins drop them
# identically), arithmetic over NULL money, NULL timestamps through
# the bucketing paths, NULL embedding lists AND a NULL element INSIDE
# a list, and — the headline ordering hazard — any window/sort keyed
# on a nullable expression (Spark ASC = NULLS FIRST, DuckDB ASC
# default = NULLS LAST; a divergence here means a query sorts on a
# nullable key without an explicit NULLS clause).
NULLS_ROWS: dict[str, dict[str, list]] = {
    "region": {"r_regionkey": [0, 1], "r_name": ["ASIA", None]},
    "nation": {
        "n_nationkey": [0, 1],
        "n_name": ["JAPAN", None],
        "n_regionkey": [0, None],
    },
    "customer": {
        "c_custkey": [1, 2],
        "c_name": ["cust one", None],
        "c_nationkey": [0, None],
        "c_acctbal": [10.0, None],
        "c_mktsegment": ["BUILDING", None],
    },
    "supplier": {
        "s_suppkey": [1, 2],
        "s_name": ["sup one", None],
        "s_nationkey": [0, None],
        "s_acctbal": [5.0, None],
    },
    "part": {
        "p_partkey": [1, 2],
        "p_name": ["green steel bolt", None],
        "p_brand": ["Brand#1", None],
        "p_type": ["PROMO ANODIZED", None],
        "p_size": [1, None],
        "p_retailprice": [10.0, None],
    },
    "orders": {
        "o_orderkey": [1, 2, 3],
        "o_custkey": [1, None, 2],
        "o_orderstatus": ["O", None, "F"],
        "o_totalprice": [10.0, None, 20.0],
        "o_orderdate": [TS0, None, TS1],
        "o_orderpriority": ["1-URGENT", None, "5-LOW"],
    },
    "lineitem": {
        "l_orderkey": [1, 2, 3],
        "l_partkey": [1, None, 2],
        "l_suppkey": [1, None, 2],
        "l_linenumber": [1, 1, 2],
        "l_quantity": [1.0, None, 2.0],
        "l_extendedprice": [10.0, None, 5.0],
        "l_discount": [0.1, None, 0.0],
        "l_tax": [0.0, None, 0.1],
        "l_returnflag": ["R", None, "N"],
        "l_linestatus": ["O", None, "F"],
        "l_shipdate": [TS0, None, TS1],
    },
    "events": {
        "event_id": [1, 2, 3, 4],
        "ts": [TS0, None, TS0, TS1],
        "user_id": [1, None, 2, 1],
        "event_type": ["purchase", None, "click", "error"],
        "value": [100.0, None, 2.0, None],
        "props": ['{"plan": 1}', None, "{}", '{"k": "v"}'],
    },
    "documents": {
        "doc_id": [1, 2, 3, 4],
        "text": ["alpha beta gamma delta", None, "", "spam ham spam ham spam ham"],
        "lang": ["en", None, "en", None],
        "source": ["src0", None, None, "src1"],
        "n_chars": [22, None, 0, 26],
    },
    "embeddings": {
        "vec_id": [1, 2, 3, 4],
        "embedding": [
            [1.0] * 64,
            None,
            [None] + [0.5] * 63,
            [-1.0] * 64,
        ],
        "label": [0, None, 1, 0],
    },
}

_ROWS_BY_KIND = {
    "minimal": MINIMAL_ROWS,
    "nulls": NULLS_ROWS,
    "unicode": UNICODE_ROWS,
    "timewarp": TIMEWARP_ROWS,
    "clique": CLIQUE_ROWS,
}

# Pinned divergences the sweep must NOT count as regressions (the
# test module imports these so tool and tests can never disagree):
# - empty: Spark rollup/cube emit no rows over empty input; DuckDB
#   (SQL standard) emits the () grouping-set row — pinned by
#   test_rollup_cube_empty_input_divergence_pinned.
# - unicode: the text->binary stand-ins fail loudly on non-ASCII by
#   design (strict=True) — pinned by
#   test_multimodal_strict_ascii_contract_is_loud.
ALLOWLIST: dict[str, set[str]] = {
    "empty": {"sales_rollup", "docs_cube_stats"},
    "minimal": set(),
    # nulls pins: r07 found 16 divergences; r08 FIXED the 14
    # value-divergent ones in the registered definitions (SCALE.md
    # §Null-input contract — (a) null-safe keys: sentinel content
    # digest, fingerprint/path NULL contracts; (b) explicit NULLS
    # LAST/FIRST on every nullable sort key incl. tie-breaks, or a
    # pre-filter where NULL has no place in the statistic; (c) the
    # shared NULL-vector drop rule in embeddings_quantized +
    # EMB_OK_SQL in every quantizing oracle). What remains pinned is
    # class (d) only: the multimodal text stand-in's strict guard
    # raises on NULL text — loud BY DESIGN, the same contract as the
    # unicode pins (the error message names both causes; strict=False
    # drops such rows instead).
    "nulls": {
        "multimodal_frame_sample",
        "multimodal_resize",
    },
    "unicode": {"multimodal_resize", "multimodal_frame_sample"},
    "timewarp": set(),
    "clique": set(),
}


def write_fixture(out_dir: str, kind: str) -> str:
    """Write all 10 tables under out_dir with production schemas.
    kind='empty' → 0 rows; else rows from _ROWS_BY_KIND[kind]."""
    os.makedirs(out_dir, exist_ok=True)
    from mit6_5840_6_824_lab1_mapreduce_spark.plans import TABLES

    for t in TABLES:
        schema = _schema(t)
        if kind == "empty":
            tbl = schema.empty_table()
        else:
            cols = _ROWS_BY_KIND[kind][t]
            arrays = []
            for f in schema:
                vals = cols[f.name]
                if pa.types.is_timestamp(f.type):
                    import datetime

                    vals = [None if v is None else
                            datetime.datetime.fromisoformat(v) for v in vals]
                arrays.append(pa.array(vals, type=f.type))
            tbl = pa.Table.from_arrays(arrays, schema=schema)
        pq.write_table(tbl, f"{out_dir}/{t}.parquet")
    return out_dir


def sweep(fixtures: list[str], only: list[str] | None = None) -> int:
    from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
    from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark
    from tests.oracle_check import compare_query

    audited = REGISTRY
    if only:
        unknown = sorted(set(only) - set(audited))
        if unknown:
            raise SystemExit(f"--only names not registered: {unknown}")
        audited = {n: audited[n] for n in only}

    spark = get_spark(app_name="degenerate-sweep", master="local[8]", shuffle_partitions=8)
    results: list[tuple[str, str, str, str]] = []
    # What a PINNED divergence is allowed to look like when run: the
    # empty-fixture pins are value/row-count mismatches (AssertionError
    # from the compare), the unicode pins are the loud strict-ASCII
    # raise. Anything else from a pinned pair — a different crash, or
    # the divergence silently disappearing — is reported (review
    # finding: skipping pinned pairs outright would hide a pin
    # degrading into a crash).
    # PER-QUERY expected failure modes (review r07: a per-fixture
    # UNION of markers would let a pin silently change mode — e.g. a
    # designed loud-guard crash degrading into a value mismatch would
    # still match the union and pass; the comment above promises that
    # degradation is reported). The multimodal pins must CRASH with
    # the strict-guard message; every other pin must be a compare
    # MISMATCH — any other outcome from a pinned pair is reported.
    _LOUD_PINS = {"multimodal_frame_sample", "multimodal_resize"}

    def pin_markers(kind: str, name: str) -> tuple[str, ...]:
        if kind == "unicode" or (kind == "nulls" and name in _LOUD_PINS):
            return ("non-ASCII",)
        return ("MISMATCH",)
    for kind in fixtures:
        sf = write_fixture(f"scale_data/degen_{kind}", kind)
        for name, entry in audited.items():
            pinned = name in ALLOWLIST.get(kind, ())
            spark.catalog.clearCache()
            try:
                if entry.oracle is None:
                    n = entry.fn(spark, sf).count()
                    outcome, msg = "OK-rows-only", f"{n} rows"
                else:
                    compare_query(spark, entry.fn, entry.oracle, sf, name)
                    outcome, msg = "OK", ""
                if pinned:
                    outcome, msg = "PIN-STALE", (
                        "pinned divergence no longer reproduces — an engine "
                        "changed; re-audit the pin"
                    )
            except Exception as e:  # noqa: BLE001 — triage tool reports all
                head = "".join(traceback.format_exception_only(type(e), e))[:300]
                outcome = (
                    "SPARK-ERR" if "pyspark" in type(e).__module__ or "py4j" in repr(e)[:2000].lower()
                    else "DUCK-ERR" if "duckdb" in type(e).__module__
                    else "MISMATCH" if isinstance(e, AssertionError)
                    else "ERR"
                )
                msg = head.replace("\n", " ")
                expected = pin_markers(kind, name)
                if pinned and (
                    outcome in expected
                    or any(sig in msg for sig in expected)
                ):
                    outcome, msg = "OK-pinned-divergence", ""
            results.append((name, kind, outcome, msg))
        import gc

        gc.collect()
    bad = [r for r in results if not r[2].startswith("OK")]
    print(f"\n==== SWEEP SUMMARY: {len(results)} runs, {len(bad)} not-OK ====")
    for name, kind, cls, msg in bad:
        print(f"[{cls}] {kind:8s} {name}: {msg}")
    spark.stop()
    return len(bad)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture", default="all",
                    choices=["empty", "minimal", "nulls", "unicode", "timewarp", "clique", "all"])
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated query names: sweep just these (targeted "
        "re-run after a small edit batch; the round-close "
        "certification must still be the FULL sweep)",
    )
    a = ap.parse_args()
    fixtures = (["empty", "minimal", "nulls", "unicode", "timewarp", "clique"]
                if a.fixture == "all" else [a.fixture])
    only = [n for n in a.only.split(",") if n]
    sys.exit(0 if sweep(fixtures, only or None) == 0 else 1)
