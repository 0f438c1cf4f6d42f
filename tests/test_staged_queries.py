"""Battery for the eight queries staged in r07 and promoted to the
registry in r08 (queries/curation.py): full oracle parity at both
fixture scales, the degenerate-input fixtures the registry sweep
uses, and structural invariants the parity compare can't see (it
proves Spark ≡ DuckDB, not that either meets the contract). The
battery keyed on these names survives promotion — the two-scale
parity + fuzz + pure-Python replays are unique to this module."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
from mit6_5840_6_824_lab1_mapreduce_spark.queries.curation import (
    PACK_BUDGET,
    PASSAGE_BLOCK,
    RESERVOIR_K,
    SUBSTR_DF_CAP,
    corpus_packing_efficiency,
    corpus_reservoir_sample,
    dedup_substring_runs,
    dedup_url_keeper,
    text_char_entropy,
    text_repetition_score,
)
from mit6_5840_6_824_lab1_mapreduce_spark.queries.training import (
    _tokens,
    pack_sequences_frame,
)
from mit6_5840_6_824_lab1_mapreduce_spark.plans import table
from tests.oracle_check import compare_query
from tools.degenerate_sweep import write_fixture

from .conftest import SF_CORRECT, SF_SMOKE


# ------------------------------------------------------ staging rules


PROMOTED = [
    "corpus_domain_cap",
    "corpus_packing_efficiency",
    "corpus_reservoir_sample",
    "dedup_substring_runs",
    "dedup_url_keeper",
    "quality_threshold_curve",
    "text_char_entropy",
    "text_repetition_score",
]


def test_promotion_complete():
    """r08 flipped all eight staged decorators to @query: every
    promoted name is registered with an oracle (no rows-only entries
    slipped through the flip)."""
    for name in PROMOTED:
        assert name in REGISTRY, name
        assert REGISTRY[name].oracle, name


# ------------------------------------------------------ oracle parity


@pytest.mark.parametrize("name", PROMOTED)
def test_staged_oracle_parity_smoke(spark, name):
    e = REGISTRY[name]
    compare_query(spark, e.fn, e.oracle, SF_SMOKE, name)


@pytest.mark.parametrize("name", PROMOTED)
def test_staged_oracle_parity_correct_sf(spark, name):
    """The driver gates at sf0.01 — stage the same scale."""
    e = REGISTRY[name]
    compare_query(spark, e.fn, e.oracle, SF_CORRECT, name)


@pytest.fixture(
    scope="module",
    params=["empty", "minimal", "nulls", "unicode", "timewarp", "clique"],
)
def degen_dir(request, tmp_path_factory):
    return write_fixture(
        str(tmp_path_factory.mktemp("staged_degen") / request.param),
        request.param,
    )


@pytest.mark.parametrize("name", PROMOTED)
def test_staged_degenerate_parity(spark, name, degen_dir):
    """Same adversarial fixtures the registry-wide sweep runs (empty
    tables, minimal adversarial rows, unicode edge cases) — a staged
    query that diverges on them would fail the sweep the round it's
    promoted, so it fails here first."""
    e = REGISTRY[name]
    compare_query(spark, e.fn, e.oracle, degen_dir, name)


# ------------------------------------------- structural invariants


def test_substring_runs_match_python_islands(spark):
    """Independent ground truth for the gaps-and-islands logic: pull
    the (doc, idx, block_hash) table once, then compute every pair's
    longest shared diagonal run in pure Python (dict of positions,
    O(matches)) honoring the DF cap, and compare the full result."""
    toks = table(spark, SF_SMOKE, "documents").select(
        "doc_id", _tokens().alias("ts")
    )
    rows = toks.collect()
    pos: list[tuple[int, int, str]] = []
    import hashlib

    for r in rows:
        ts = r.ts
        for i in range(len(ts) // PASSAGE_BLOCK):
            blk = " ".join(ts[i * PASSAGE_BLOCK : (i + 1) * PASSAGE_BLOCK])
            pos.append(
                (r.doc_id, i, hashlib.md5(blk.encode("utf-8")).hexdigest())
            )
    occ: dict[str, int] = {}
    for _, _, h in pos:
        occ[h] = occ.get(h, 0) + 1
    by_hash: dict[str, list[tuple[int, int]]] = {}
    for doc, idx, h in pos:
        if 2 <= occ[h] <= SUBSTR_DF_CAP:
            by_hash.setdefault(h, []).append((doc, idx))
    # matches[(a, b)] = set of (ia, ib)
    matches: dict[tuple[int, int], set[tuple[int, int]]] = {}
    for h, ps in by_hash.items():
        for da, ia in ps:
            for db, ib in ps:
                if da < db:
                    matches.setdefault((da, db), set()).add((ia, ib))
    expected: dict[tuple[int, int], tuple[int, int]] = {}
    for pair, ms in matches.items():
        longest = 0
        # islands per diagonal
        diags: dict[int, list[int]] = {}
        for ia, ib in ms:
            diags.setdefault(ia - ib, []).append(ia)
        total = sum(len(v) for v in diags.values())
        for ias in diags.values():
            ias.sort()
            run = 1
            for prev, cur in zip(ias, ias[1:]):
                run = run + 1 if cur == prev + 1 else 1
                longest = max(longest, run)
            longest = max(longest, run if len(ias) else 0, 1)
        if longest >= 2:
            expected[pair] = (longest, total)
    got = {
        (r.doc_a, r.doc_b): (r.longest_run_blocks, r.n_matched_blocks)
        for r in dedup_substring_runs(spark, SF_SMOKE).collect()
    }
    assert got == expected
    for r in dedup_substring_runs(spark, SF_SMOKE).collect():
        assert r.longest_run_tokens == r.longest_run_blocks * PASSAGE_BLOCK


def test_url_keeper_exactly_one_per_group(spark):
    rows = dedup_url_keeper(spark, SF_SMOKE).collect()
    assert rows, "smoke corpus should produce verdicts"
    by_digest: dict[str, list] = {}
    for r in rows:
        by_digest.setdefault(r.content_digest, []).append(r)
    for digest, grp in by_digest.items():
        assert sum(r.keep for r in grp) == 1, digest
        assert all(r.group_n == len(grp) for r in grp)
        keeper = min(grp, key=lambda r: (r.host, r.doc_id))
        assert next(r for r in grp if r.keep) .doc_id == keeper.doc_id
        for r in grp:
            assert r.url == f"https://{r.host}/doc/{r.doc_id}"


def test_repetition_score_matches_python(spark):
    """Recompute the gram counts in pure Python from the tokenized
    docs; the ratio itself is the property-tested exact_ratio."""
    toks = {
        r.doc_id: r.ts
        for r in table(spark, SF_SMOKE, "documents")
        .select("doc_id", _tokens().alias("ts"))
        .collect()
    }
    out = {r.doc_id: r for r in text_repetition_score(spark, SF_SMOKE).collect()}
    assert set(out) == set(toks)
    saw_repeat = False
    for doc_id, ts in toks.items():
        grams = [" ".join(ts[i : i + 3]) for i in range(max(len(ts) - 2, 0))]
        r = out[doc_id]
        assert r.n_grams == len(grams)
        assert r.n_distinct == len(set(grams))
        if not grams:
            assert r.rep_score is None
        elif len(grams) > len(set(grams)):
            saw_repeat = True
            assert r.rep_score == pytest.approx(
                (len(grams) - len(set(grams))) / len(grams), abs=1e-6
            )
    assert saw_repeat, "fixture should contain at least one repetitive doc"


def test_char_entropy_bounds_and_python_replay(spark):
    """Floor-log2 entropy is bounded by the true entropy (≤ log2 N)
    and replayable exactly in Python with integer ops."""
    docs = {
        r.doc_id: r.text
        for r in table(spark, SF_SMOKE, "documents").collect()
        if r.text
    }
    out = {r.doc_id: r for r in text_char_entropy(spark, SF_SMOKE).collect()}
    assert set(out) == {d for d, t in docs.items() if len(t) > 0}
    for doc_id, text in docs.items():
        if not text:
            continue
        counts: dict[str, int] = {}
        for ch in text:
            counts[ch] = counts.get(ch, 0) + 1
        n = sum(counts.values())
        num = sum(c * ((n // c).bit_length() - 1) for c in counts.values())
        r = out[doc_id]
        assert r.n_chars_counted == n
        assert r.n_distinct_chars == len(counts)
        assert r.entropy_num == num
        assert 0 <= r.entropy_floor_bits <= math.log2(n) + 1e-9 if n > 1 else True


def test_reservoir_sample_contract(spark):
    """≤ K docs per source, ranks dense from 1, exactly K whenever the
    source has ≥ K docs, and the selection is reproducible."""
    d = table(spark, SF_SMOKE, "documents")
    src_counts = {
        r.source: r.n
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    rows = corpus_reservoir_sample(spark, SF_SMOKE).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert set(by_src) == set(src_counts)
    for src, grp in by_src.items():
        expect = min(RESERVOIR_K, src_counts[src])
        assert len(grp) == expect
        assert sorted(r.sample_rank for r in grp) == list(range(1, expect + 1))
    again = {
        (r.source, r.doc_id, r.sample_rank)
        for r in corpus_reservoir_sample(spark, SF_SMOKE).collect()
    }
    assert again == {(r.source, r.doc_id, r.sample_rank) for r in rows}


def test_staged_random_corpus_parity(spark, tmp_path_factory):
    """Hypothesis corpus fuzz over all six staged queries (the r04
    fixture-luck lesson: green on a curated fixture proves little).
    Corpora are built to be adversarial for THIS family: documents
    share 16-word passages at shifted alignments (substring-run
    diagonals), contain exact duplicates (url-keeper groups), loops
    (repetition), unicode + digits + empties (entropy/tokenizer
    edges), and skewed sources (reservoir + packing shards)."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = ["alpha", "beta", "gamma", "the", "und", "x9", "a,b", "é", "ωμ"]
    # Pool of exactly-PASSAGE_BLOCK-word passages: concatenating them
    # makes cross-document block-hash matches likely; a random 0-3
    # word prefix shifts alignment so runs land on nonzero diagonals.
    rng_passages = st.lists(
        st.lists(st.sampled_from(words), min_size=PASSAGE_BLOCK,
                 max_size=PASSAGE_BLOCK).map(" ".join),
        min_size=2, max_size=3,
    )
    doc = st.tuples(
        st.lists(st.sampled_from(words), min_size=0, max_size=3),  # prefix
        st.lists(st.integers(min_value=0, max_value=2),            # passage picks
                 min_size=0, max_size=4),
        st.booleans(),                                             # loop a gram
    )
    corpus = st.tuples(rng_passages, st.lists(doc, min_size=1, max_size=10))

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(corpus)
    def run(example):
        passages, docs = example
        texts = []
        for prefix, picks, loop in docs:
            parts = list(prefix) + [
                passages[p % len(passages)] for p in picks
            ]
            if loop:
                parts += ["spam ham"] * 4
            texts.append(" ".join(parts))
        if docs and len(texts) >= 2:
            texts[-1] = texts[0]  # force one exact-duplicate group
        tmp = tmp_path_factory.mktemp("staged_rand")
        pd.DataFrame(
            {
                "doc_id": range(len(texts)),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": [f"s{i % 2}" for i in range(len(texts))],
                "n_chars": [len(t) for t in texts],
            }
        ).to_parquet(tmp / "documents.parquet")
        for name in PROMOTED:
            e = REGISTRY[name]
            compare_query(spark, e.fn, e.oracle, str(tmp), f"rand-{name}")

    run()


def test_packing_efficiency_reconciles_with_pack_frame(spark):
    """The histogram must account for every sequence and every token
    the shared pack frame produces: Σ n_seqs = Σ_shards ceil(tot/B),
    Σ fill_tokens_total = Σ n_tokens, and fill_rate ≤ 1."""
    d = table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.size(_tokens()).cast("long").alias("n_tokens")
    )
    packed = pack_sequences_frame(d)
    shard_tot = {
        r.shard: r.tot
        for r in packed.groupBy("shard")
        .agg(F.sum("n_tokens").alias("tot"))
        .collect()
    }
    hist = corpus_packing_efficiency(spark, SF_SMOKE).collect()
    assert sum(r.n_seqs for r in hist) == sum(
        math.ceil(t / PACK_BUDGET) for t in shard_tot.values()
    )
    assert sum(r.fill_tokens_total for r in hist) == sum(shard_tot.values())
    for r in hist:
        assert 0 < r.fill_rate <= 1.0
        assert r.n_docs_in_seq >= 1


def test_quality_curve_monotone_and_reconciled(spark):
    """Raising the threshold can only shrink the kept set; every doc
    is either kept or dropped at each threshold; shares are valid."""
    from mit6_5840_6_824_lab1_mapreduce_spark.queries.curation import (
        QUALITY_THRESHOLDS_PCT,
        quality_threshold_curve,
    )

    n_docs = table(spark, SF_SMOKE, "documents").count()
    rows = {r.threshold_pct: r
            for r in quality_threshold_curve(spark, SF_SMOKE).collect()}
    assert sorted(rows) == sorted(QUALITY_THRESHOLDS_PCT)
    prev_kept, prev_tok = None, None
    for t in sorted(rows):
        r = rows[t]
        assert r.n_kept + r.n_dropped == n_docs
        assert 0 <= r.token_share_kept <= 1.0
        if prev_kept is not None:
            assert r.n_kept <= prev_kept
            assert r.tokens_kept <= prev_tok
        prev_kept, prev_tok = r.n_kept, r.tokens_kept
    # The fixture spans the curve: the lowest threshold keeps more
    # than the highest (otherwise the calibration test is vacuous).
    lo, hi = min(rows), max(rows)
    assert rows[lo].n_kept > rows[hi].n_kept


def test_domain_cap_matches_python_replay(spark):
    """Exact greedy-cap replay: per host, admit docs in
    (md5('cap:'||id), id) order while cum-before < CAP."""
    import hashlib

    from mit6_5840_6_824_lab1_mapreduce_spark.queries.curation import (
        DOMAIN_CAP_TOKENS,
        corpus_domain_cap,
    )

    rows = corpus_domain_cap(spark, SF_SMOKE).collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    assert len(by_host) > 1
    for host, grp in by_host.items():
        grp.sort(key=lambda r: (
            hashlib.md5(f"cap:{r.doc_id}".encode()).hexdigest(), r.doc_id))
        cum = 0
        for r in grp:
            assert r.cum_tokens == cum + r.n_tokens, (host, r)
            assert r.keep == (1 if cum < DOMAIN_CAP_TOKENS else 0), (host, r)
            cum += r.n_tokens
        assert sum(r.keep for r in grp) >= 1  # every host keeps >=1


# ============================================ r09 set (promoted r09)

PROMOTED_R09 = [
    "corpus_shard_skew",
    "decontam_bench_exposure",
    "similarity_graph_degree",
    "tokenizer_vocab_overlap",
]


def test_r09_promotion_complete():
    """r09 flipped the four r08-staged decorators to @query: every
    name is registered with an oracle and driver-visible (the r10
    cohort's own battery is tests/test_staged_r10.py)."""
    import __spark_entry__ as entry

    for name in PROMOTED_R09:
        assert name in REGISTRY, name
        assert REGISTRY[name].oracle, name
        assert name in entry.queries(), name


@pytest.mark.parametrize("name", PROMOTED_R09)
def test_r09_staged_parity_smoke(spark, name):
    e = REGISTRY[name]
    compare_query(spark, e.fn, e.oracle, SF_SMOKE, name)


@pytest.mark.parametrize("name", PROMOTED_R09)
def test_r09_staged_parity_correct_sf(spark, name):
    e = REGISTRY[name]
    compare_query(spark, e.fn, e.oracle, SF_CORRECT, name)


@pytest.mark.parametrize("name", PROMOTED_R09)
def test_r09_staged_degenerate_parity(spark, name, degen_dir):
    e = REGISTRY[name]
    compare_query(spark, e.fn, e.oracle, degen_dir, name)


def test_shard_skew_matches_python(spark):
    """Pure-Python replay of the shard accounting; the ratios ride the
    property-tested exact_ratio_wide idiom."""
    from mit6_5840_6_824_lab1_mapreduce_spark.queries.curation import (
        corpus_shard_skew,
    )

    toks = {
        r.doc_id: len(r.ts)
        for r in table(spark, SF_SMOKE, "documents")
        .select("doc_id", _tokens().alias("ts"))
        .collect()
    }
    shard_tok: dict[int, int] = {}
    shard_docs: dict[int, int] = {}
    for doc_id, n in toks.items():
        if n > 0:
            s = doc_id % 8
            shard_tok[s] = shard_tok.get(s, 0) + n
            shard_docs[s] = shard_docs.get(s, 0) + 1
    total = sum(shard_tok.values())
    rows = {r.shard: r for r in corpus_shard_skew(spark, SF_SMOKE).collect()}
    assert set(rows) == set(shard_tok)
    for s, r in rows.items():
        assert r.n_docs == shard_docs[s]
        assert r.shard_tokens == shard_tok[s]
        assert r.token_share == pytest.approx(shard_tok[s] / total, abs=1e-6)
        assert r.skew_factor == pytest.approx(
            shard_tok[s] * len(shard_tok) / total, abs=1e-6
        )
    assert sum(r.token_share for r in rows.values()) == pytest.approx(
        1.0, abs=1e-4
    )


def test_vocab_overlap_matches_python(spark):
    """Replay the per-source top-K vocabulary and the pairwise Jaccard
    in pure Python."""
    import re

    from mit6_5840_6_824_lab1_mapreduce_spark.queries.curation import (
        VOCAB_K,
        tokenizer_vocab_overlap,
    )

    docs = table(spark, SF_SMOKE, "documents").collect()
    counts: dict[str, dict[str, int]] = {}
    for r in docs:
        if r.text is None:
            continue
        for tok in re.findall(r"[^\W\d_]+", r.text.lower(), re.UNICODE):
            counts.setdefault(r.source, {})[tok] = (
                counts.setdefault(r.source, {}).get(tok, 0) + 1
            )
    top: dict[str, set[str]] = {
        src: {
            t
            for t, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[
                :VOCAB_K
            ]
        }
        for src, c in counts.items()
    }
    rows = {
        (r.source_a, r.source_b): r
        for r in tokenizer_vocab_overlap(spark, SF_SMOKE).collect()
    }
    srcs = sorted(top)
    expect_pairs = {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
    }
    assert set(rows) == expect_pairs
    for (a, b), r in rows.items():
        inter = len(top[a] & top[b])
        union = len(top[a]) + len(top[b]) - inter
        assert r.vocab_a == len(top[a]) and r.vocab_b == len(top[b])
        assert r.n_shared == inter
        assert r.jaccard == pytest.approx(inter / union, abs=1e-6)


def test_graph_degree_reconciles_with_pair_table(spark):
    """Handshake identity: Σ degree·n_vecs = 2·|pairs|, Σ n_vecs =
    |populated vectors| — and degree-0 really means isolated."""
    from mit6_5840_6_824_lab1_mapreduce_spark.operators import similarity as S
    from mit6_5840_6_824_lab1_mapreduce_spark.queries.similarity import _PLANES
    from mit6_5840_6_824_lab1_mapreduce_spark.queries.curation import (
        similarity_graph_degree,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    n_pairs = S.lsh_near_pairs(emb, threshold=0.45, planes=_PLANES).count()
    n_vecs = S.embeddings_quantized(emb).count()
    hist = similarity_graph_degree(spark, SF_SMOKE).collect()
    assert sum(r.degree * r.n_vecs for r in hist) == 2 * n_pairs
    assert sum(r.n_vecs for r in hist) == n_vecs
    assert all(r.degree >= 0 and r.n_vecs >= 1 for r in hist)


def test_bench_exposure_covers_every_bench_doc(spark):
    """Every holdout doc appears exactly once; clean items carry
    all-zero exposure; ratios are bounded by 1 and NULL only when the
    item has no grams."""
    from mit6_5840_6_824_lab1_mapreduce_spark.queries.decontam import (
        HOLDOUT_MOD,
    )
    from mit6_5840_6_824_lab1_mapreduce_spark.queries.curation import (
        decontam_bench_exposure,
    )

    bench_ids = {
        r.doc_id
        for r in table(spark, SF_SMOKE, "documents").collect()
        if r.doc_id % HOLDOUT_MOD == 0
    }
    rows = decontam_bench_exposure(spark, SF_SMOKE).collect()
    assert {r.bench_id for r in rows} == bench_ids
    assert len(rows) == len(bench_ids)
    for r in rows:
        if r.n_corpus_hits == 0:
            assert r.max_shared == 0 and r.total_shared == 0
        else:
            assert 1 <= r.max_shared <= r.n_grams
            assert r.total_shared >= r.max_shared
        if r.n_grams == 0:
            assert r.worst_overlap is None
        else:
            assert 0.0 <= r.worst_overlap <= 1.0
