"""End-to-end training-corpus cleaning pipeline over ``documents``.

This is the flagship LLM-data-pipeline composition: every signal the
repo computes separately (exact digest dedup, MinHash+LSH near-dup
clusters, heuristic quality score, stopword language ID) is joined
into one per-document verdict, the way a production pre-training
cleanup job annotates a corpus before writing the surviving shard.

Design for 100 TB: annotate-then-filter, not filter-then-recompute.
All four signals are derived from the SAME pass over ``documents``
(Catalyst reuses the scan), each is a hash-partitioned aggregate or
bounded equi-join that already has its own scale story
(operators/dedup.py, operators/graph.py, text_metrics), and the final
verdict is a 4-way join on doc_id — co-partitioned, no new shuffle
shape. Filtering early would save nothing here (every signal needs
the full text anyway) and would serialize the stages.

Oracles are composed from the exact fragments the per-stage queries
use — so the compare proves the composition, not just the parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import table
from .dedup import _BANDS_SQL, _CC_SQL, _MINHASH_SQL, _SHINGLES_SQL
from ._util import exact_ratio_wide_spark, exact_ratio_wide_sql
from .registry import REGISTRY, query
from .text_metrics import language_frame, quality_frame
from .dedup import _minhash_components, lsplit_is_holdout, lsplit_is_holdout_sql
from .training import PACK_SHARDS, TOKEN_RE, pack_sequences_frame, pack_sql

QUALITY_MIN = 0.40  # ≈ p10 of the corpus quality distribution
KEEP_LANG = "en"

# Per-doc verdict CTE chain, shared by both pipeline queries. The
# quality / language stages are spliced in verbatim from their
# already-registered oracles (as nested-WITH subqueries) so the two
# engines agree by construction. str concatenation, not .format() —
# the fragments contain literal regex braces.
_VERDICT_SQL = (
    r"""
    comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
    ex AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
      FROM documents
    ),
    qs AS ("""
    + REGISTRY["text_quality_score"].oracle
    + r"""),
    lid AS ("""
    + REGISTRY["text_language_id"].oracle
    + rf"""),
    v AS (
      SELECT d.doc_id, d.n_chars,
             CASE WHEN d.doc_id <> ex.keep_id THEN 'drop_exact_dup'
                  WHEN d.doc_id <> comp.component THEN 'drop_near_dup'
                  WHEN qs.quality_score < {QUALITY_MIN} THEN 'drop_low_quality'
                  WHEN lid.pred_lang <> '{KEEP_LANG}' THEN 'drop_lang'
                  ELSE 'keep' END AS verdict,
             qs.quality_score, lid.pred_lang
      FROM documents d
      JOIN ex USING (doc_id)
      JOIN comp USING (doc_id)
      JOIN qs USING (doc_id)
      JOIN lid USING (doc_id)
    )
"""
)

_PIPELINE_PREFIX = (
    "WITH RECURSIVE "
    + _SHINGLES_SQL
    + ",\n"
    + _MINHASH_SQL
    + ",\n"
    + _BANDS_SQL
    + ",\n"
    + _CC_SQL
    + ",\n"
    + _VERDICT_SQL
)


def _pipeline_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component, n_chars, verdict, quality_score, pred_lang)
    for every document — first matching drop reason wins, priority
    exact_dup > near_dup > low_quality > lang; `component` is the
    near-dup cluster id the leakage-safe split keys on."""
    docs = table(spark, sf_dir, "documents")
    # ONE corpus scan for every per-document annotation (round-5
    # fusion): language and quality are stateless frame transforms
    # chained via keep-columns, and the exact-dup keeper window rides
    # the same projected frame — previously three separate scans of
    # `documents` joined back on doc_id (two joins and two text
    # re-parses that dominate at 100 TB).
    # The oracle reads the STORED documents.n_chars column (an
    # ingested field, not derivable); quality_frame emits its own
    # recomputed n_chars = length(text), so carry the stored column
    # through under a distinct name (reviewer r5: nothing enforces
    # stored == recomputed for arbitrary sources).
    ann = quality_frame(
        language_frame(
            docs.withColumn("stored_n_chars", F.col("n_chars")),
            keep=("text", "stored_n_chars"),
        ),
        keep=("pred_lang", "text", "stored_n_chars"),
    )
    # Exchange-width note (round-6 audit, SCALE.md §"Exchange-width
    # audit"): the keeper window's exchange does NOT carry text —
    # Catalyst projects _w0 = md5(text) plus the signal columns below
    # the shuffle and prunes text. Keying the window on the inline
    # expression is physically equivalent to pre-materializing the
    # digest; keep the simpler form.
    hashed = ann.select(
        "doc_id",
        F.col("stored_n_chars").alias("n_chars"),
        "quality_score",
        "pred_lang",
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(F.col("text"))))
        .alias("keep_id"),
    )
    # Shared cluster derivation (advisor r4): the SAME helper
    # corpus_leakage_safe_split keys on, so the MinHash threshold and
    # CC entry point cannot drift between cluster consumers.
    cc = _minhash_components(spark, sf_dir)
    comp = cc.select(F.col("id").alias("doc_id"), "component")
    return (
        hashed.join(comp, "doc_id")
        .select(
            "doc_id",
            "component",
            "n_chars",
            F.when(F.col("doc_id") != F.col("keep_id"), "drop_exact_dup")
            .when(F.col("doc_id") != F.col("component"), "drop_near_dup")
            .when(F.col("quality_score") < QUALITY_MIN, "drop_low_quality")
            .when(F.col("pred_lang") != KEEP_LANG, "drop_lang")
            .otherwise("keep")
            .alias("verdict"),
            "quality_score",
            "pred_lang",
        )
    )


@query(
    "pipeline_clean_corpus",
    oracle=_PIPELINE_PREFIX
    + r"""
    SELECT doc_id, verdict, quality_score, pred_lang FROM v
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cleaning verdict for the whole corpus: exact-dup
    drop (md5 keeper window), near-dup drop (MinHash+LSH pair graph →
    connected components, keeper = component min), quality drop
    (heuristic score < 0.40), language drop (stopword ID ≠ 'en').
    The production job writes `WHERE verdict = 'keep'` as the training
    shard; emitting the verdict keeps the audit trail."""
    return _pipeline_frame(spark, sf_dir).select(
        "doc_id", "verdict", "quality_score", "pred_lang"
    )


@query(
    "pipeline_corpus_stats",
    oracle=_PIPELINE_PREFIX
    + r"""
    SELECT verdict, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           {MQ} AS mean_quality
    FROM v GROUP BY verdict
    """.replace("{MQ}", exact_ratio_wide_sql(
        "sum(CAST(quality_score AS DECIMAL(12,6))) * 1000000",
        "1000000 * count(*)")),
)
def pipeline_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline yield report: documents and bytes surviving each
    verdict class — the number a data-curation run is judged by
    (docs in → docs kept, where the rest went)."""
    return (
        _pipeline_frame(spark, sf_dir)
        .groupBy("verdict")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            # exact-decimal sum / count, not avg over doubles: float
            # summation order would leak partitioning into the output
            # (quality_score is already rounded to 6dp, so the decimal
            # cast is lossless-deterministic on both engines)
            # Integer-exact half-up mean over the exact decimal sum
            # (quality_score is an exact k/1e6 value - r5 sweep).
            # Wide variant: the score-sum x 10^6 x 10^6 numerator hits
            # int64 near ~4.6M docs — DECIMAL(38,0)/HUGEINT instead of
            # a narrowing BIGINT cast (advisor r05).
            exact_ratio_wide_spark(
                "sum(CAST(quality_score AS DECIMAL(12,6))) * 1000000",
                "1000000 * count(1)",
            ).alias("mean_quality"),
        )
    )


@query(
    "pipeline_training_export",
    oracle=_PIPELINE_PREFIX
    + rf""",
    keep_train AS (
      SELECT v.doc_id, comp.component
      FROM v JOIN comp USING (doc_id)
      WHERE v.verdict = 'keep'
        AND NOT ({lsplit_is_holdout_sql("comp.component")})
    ),
    t AS (
      SELECT k.doc_id, k.component, k.doc_id % {PACK_SHARDS} AS shard,
             CAST(len(regexp_extract_all(d.text, '[\p{{L}}]+')) AS BIGINT)
               AS n_tokens
      FROM keep_train k JOIN documents d USING (doc_id)
    ),
    {pack_sql("t", extra_cols=", component")}
    SELECT doc_id, component, shard, n_tokens, seq_first, seq_last
    FROM packed
    """,
)
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end artifact: the documents a training run actually
    consumes. Composes the whole repo in one hash-checked query —
    cleaning verdicts (exact dedup, MinHash+LSH clusters, quality,
    language) -> leakage-safe TRAIN split (hash keyed on the near-dup
    cluster representative, same rule as corpus_leakage_safe_split,
    so no near-duplicate of a holdout doc can train) -> per-shard
    contiguous sequence packing over the survivors.

    Every stage reuses the exact operator (and oracle fragment) its
    standalone query registered, so the driver compare proves the
    COMPOSITION end to end: a verdict flip, a split leak, or an
    off-by-one in the packing cumsum all change the hash. Scale story
    per stage: see pipeline_clean_corpus, corpus_leakage_safe_split,
    and corpus_pack_sequences — nothing new shuffles here beyond the
    doc_id-keyed joins between them."""
    frame = _pipeline_frame(spark, sf_dir)
    train = frame.where(
        (F.col("verdict") == "keep")
        & ~lsplit_is_holdout(F.col("component"))
    ).select("doc_id", "component")
    docs = table(spark, sf_dir, "documents")
    # Tokenize BELOW the join, deliberately: counting tokens for
    # soon-dropped docs costs map-side CPU (~30-50% of the regexp
    # work), but the alternative — joining to train first and
    # tokenizing after — ships the full `text` column through the
    # join's shuffle whenever train can't broadcast, which at 100 TB
    # it can't (train is corpus-sized). Shuffling (doc_id, n_tokens)
    # ints is ~16 bytes/row vs kilobytes of text; the CPU trade is
    # the cheap side. (Round-6 review: the join-first variant looked
    # flat at sf0.1 only because AQE broadcast the small train side.)
    d_tok = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0))
        .cast("long")
        .alias("n_tokens"),
    )
    packed = pack_sequences_frame(train.join(d_tok, "doc_id"))
    return packed.select(
        "doc_id", "component", "shard", "n_tokens", "seq_first", "seq_last"
    )
