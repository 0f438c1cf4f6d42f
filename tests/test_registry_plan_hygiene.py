"""Whole-registry structural guarantees: for EVERY registered query,
the physical plan must be free of the two patterns that do not
survive scale — cartesian products and row-at-a-time Python
evaluation — and Arrow-batched Python stages may appear only in the
multimodal family, whose decode step is Python by design.

(The oracle-parity suite proves the answers right; this suite proves
the plans stay right as queries are added or refactored.)"""

from __future__ import annotations

import pytest

from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY

from .conftest import SF_SMOKE

# Arrow mapInPandas is the documented implementation for these; all
# other queries must be 100% JVM-side. (multimodal_asset_meta and
# multimodal_frame_sample are deliberately NOT here: they are
# metadata-only / byte-expression paths, and their plans proving
# payloads never reach Python is part of the design.)
PYTHON_REQUIRED = {
    "multimodal_feature_extract",
    "multimodal_resize",
    "multimodal_audio_decode",
    "multimodal_image_decode",
    "multimodal_video_decode",
    # r10 staged compressed-codec decodes: same fused Arrow
    # build→decode shape as the uncompressed trio above.
    "multimodal_png_decode",
    "multimodal_g711_decode",
    "multimodal_rle8_decode",
}

# BroadcastNestedLoopJoin is sanctioned ONLY where the build side is
# bounded by construction — a scalar subquery (one row) or a fixed
# small batch — so the "nested loop" is a constant-time probe per row:
#   similarity_topk_batch / _bruteforce / ann_multiprobe / ivf_*:
#     fixed query batch, probe table, or centroid list broadcast;
#   dedup_embedding_cosine: the B×B block-pair table (bounded by the
#     block-count constant, not the corpus);
#   inactive_rich_customers / text_tfidf_top_terms / kv_get_at_seq:
#     scalar aggregate (corpus avg / total doc count / snapshot seq)
#     joined as a 1-row broadcast.
BNLJ_ALLOWED = {
    "similarity_topk_batch",
    "similarity_topk_bruteforce",
    "similarity_ann_multiprobe",
    "similarity_ivf_assign",
    "similarity_ivf_topk",
    "embedding_cluster_sample",  # same k-row centroid broadcast as ivf_assign
    "corpus_semantic_mixture",  # same k-row centroid broadcast as ivf_assign
    "dedup_embedding_cosine",
    "inactive_rich_customers",
    "text_tfidf_top_terms",
    "kv_get_at_seq",
    "tpch_q11_important_parts",  # global-value total: 1-row broadcast
    "orders_market_basket",  # order-count scalar: 1-row broadcast
    "sketch_kmv_merge",  # merged/direct k-th hash: two 1-row broadcasts
    "sketch_join_estimate",  # three scalar stats: 1-row broadcasts
    "sketch_histogram_quantiles",  # ~50-row histogram + 1-row stats broadcasts
    "corpus_shard_skew",  # PACK_SHARDS-row totals: 1-row broadcast
    "tokenizer_vocab_overlap",  # source-pair frame: |sources|-row broadcast
    "customer_rfm_segments",  # global max order date: 1-row broadcast
}

# A Window with no PARTITION BY plans `Exchange SinglePartition` —
# one task sorts (and holds) the whole frame. Sanctioned ONLY where
# the frame is bounded by CONSTRUCTION (not merely small at test
# scale): data-sized frames must use the distributed rank in
# operators/rank.py (the r09 fix for the customer-ntile /
# vocab-cumsum / kmv / exact-rank family — this assertion is what
# would have caught that family at registration time).
GLOBAL_WINDOW_ALLOWED = {
    # ≤64-row power-of-two histogram cumsum: frame bounded by the
    # bit width of a long, never by the data.
    "sketch_histogram_quantiles",
    # Per-source aggregate frames: one row per corpus source — a
    # bounded catalog dimension (the mixture/temperature tables a
    # training run is configured from), not a data-sized set.
    "corpus_mixture_plan",
    "corpus_sample_temperature",
    "corpus_source_mix",
    # row_number over a `.limit(100)` child (TakeOrderedAndProject
    # top-k): 100 rows by construction. Caught once the detector
    # started reading the Window node itself instead of requiring an
    # adjacent SinglePartition exchange (the top-k child already
    # satisfies the distribution, so no exchange is planned).
    "corpus_bigram_lm_counts",
    # first_value over the 4-row funnel-step table — bounded by the
    # funnel definition (one row per step), never by the data.
    "events_funnel_conversion",
}

CASES = sorted(REGISTRY)


@pytest.mark.parametrize("name", CASES)
def test_plan_is_scale_clean(spark, name):
    from mit6_5840_6_824_lab1_mapreduce_spark.plans import plan_audit

    audit = plan_audit(REGISTRY[name].fn(spark, SF_SMOKE))
    assert not audit.has_cartesian, f"{name}: cartesian product"
    if name not in BNLJ_ALLOWED:
        assert audit.n_nested_loop_joins == 0, f"{name}: nested-loop join"
    if name in PYTHON_REQUIRED:
        assert audit.n_python_stages > 0, f"{name}: expected an Arrow Python stage"
    else:
        assert audit.python_free, f"{name}: unexpected Python stage"
    if name not in GLOBAL_WINDOW_ALLOWED:
        assert audit.n_single_partition_windows == 0, (
            f"{name}: single-partition window over a data-sized frame —"
            " use operators/rank.with_global_order, or add a"
            " GLOBAL_WINDOW_ALLOWED entry with a bounded-frame"
            " justification"
        )
