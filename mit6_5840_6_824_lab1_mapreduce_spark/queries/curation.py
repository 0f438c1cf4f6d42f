"""Corpus-curation queries over ``documents``.

Twelve registered queries that decide or audit what a training corpus
keeps:

- passage-level dedup: longest shared block run, per-URL keeper;
- per-document text signals: repetition score, character entropy;
- sampling and packing: reservoir sample, packing efficiency,
  per-domain cap, shard skew;
- corpus reports: quality-threshold curve, tokenizer vocabulary
  overlap, similarity-graph degree, benchmark exposure.

Each is a composition of idioms used elsewhere in the package (md5
ranks, exact ratios, block hashes, pack frames, gaps-and-islands
windows), with no new operator module or scan shape. The 100 TB
posture is noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import table
from .registry import REGISTRY, query
from .text_metrics import quality_frame
from .training import (
    PACK_BUDGET,
    PACK_SHARDS,
    PASSAGE_BLOCK,
    pack_sequences_frame,
    pack_sql,
    _tokens,
)
from ._util import (
    exact_ratio_spark,
    exact_ratio_sql,
    exact_ratio_wide_spark,
    exact_ratio_wide_sql,
)

# --------------------------------------------------------------- 1/8
# Exact substring dedup: longest shared run of consecutive block
# hashes between two documents. Document-level dedup (exact/MinHash)
# misses a long passage copied into otherwise-different documents;
# dedup_passage_blocks counts shared blocks but not their CONTIGUITY.
# A run of r consecutive matching PASSAGE_BLOCK-token blocks certifies
# an exact shared substring of ≥ r*PASSAGE_BLOCK tokens.
#
# Shape (100 TB): linear block explode (corpus_tokens/BLOCK rows) →
# block-hash equi-join restricted to hashes with 2..SUBSTR_DF_CAP
# occurrences (the hot-bucket cap from dedup_minhash_lsh_capped:
# ubiquitous boilerplate blocks would otherwise pair quadratically;
# at the cap the join fan-out per hash is ≤ CAP², and dropped hashes
# are exactly the ones a keeper rule would strip as boilerplate
# anyway) → per-pair gaps-and-islands on the position diagonal
# (ia - ib), which is one window + one aggregate over candidate pairs
# only. Never doc × doc.
SUBSTR_DF_CAP = 50


@query(
    "dedup_substring_runs",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\p{{L}}]+') AS ts
      FROM documents
    ),
    blocks AS (
      SELECT doc_id,
             unnest(list_transform(range(0, CAST(floor(len(ts) / {PASSAGE_BLOCK}.0) AS BIGINT)),
               i -> struct_pack(
                 idx := i,
                 h := md5(array_to_string(
                        ts[i * {PASSAGE_BLOCK} + 1 : i * {PASSAGE_BLOCK} + {PASSAGE_BLOCK}],
                        ' '))))) AS b
      FROM toks
    ),
    pos AS (SELECT doc_id, b.idx AS idx, b.h AS h FROM blocks),
    ok AS (
      SELECT h FROM pos GROUP BY h
      HAVING count(*) BETWEEN 2 AND {SUBSTR_DF_CAP}
    ),
    cand AS (SELECT p.doc_id, p.idx, p.h FROM pos p JOIN ok USING (h)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.idx AS ia, a.idx - b.idx AS d
      FROM cand a JOIN cand b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, d,
             ia - row_number() OVER (PARTITION BY doc_a, doc_b, d
                                     ORDER BY ia) AS isl
      FROM m
    ),
    islands AS (
      SELECT doc_a, doc_b, count(*) AS run_len
      FROM runs GROUP BY doc_a, doc_b, d, isl
    )
    SELECT doc_a, doc_b,
           CAST(max(run_len) AS BIGINT) AS longest_run_blocks,
           CAST(max(run_len) * {PASSAGE_BLOCK} AS BIGINT)
             AS longest_run_tokens,
           CAST(sum(run_len) AS BIGINT) AS n_matched_blocks
    FROM islands
    GROUP BY doc_a, doc_b
    HAVING max(run_len) >= 2
    """,
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest exact shared substring (in PASSAGE_BLOCK-token units)
    per candidate document pair: match block hashes positionally,
    then find the longest run of consecutive matches on each diagonal
    ia−ib via gaps-and-islands (island key = ia − row_number, both
    engines deterministic because ia is unique within a diagonal).
    Pairs are emitted when the longest run spans ≥ 2 blocks — an
    exact shared substring of ≥ 2·PASSAGE_BLOCK tokens, strong
    evidence of copying rather than coincidence."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("ts")
    )
    nb = F.floor(F.size("ts") / PASSAGE_BLOCK).cast("int")
    bstructs = F.when(
        nb >= 1,
        F.transform(
            F.sequence(F.lit(0), nb - 1),
            lambda i: F.struct(
                i.cast("long").alias("idx"),
                F.md5(
                    F.concat_ws(
                        " ", F.slice("ts", i * PASSAGE_BLOCK + 1, PASSAGE_BLOCK)
                    )
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<idx:long,h:string>>"))
    pos = toks.select("doc_id", F.explode(bstructs).alias("b")).select(
        "doc_id", F.col("b.idx").alias("idx"), F.col("b.h").alias("h")
    )
    ok = (
        pos.groupBy("h")
        .agg(F.count("*").alias("occ"))
        .where((F.col("occ") >= 2) & (F.col("occ") <= SUBSTR_DF_CAP))
        .select("h")
    )
    cand = pos.join(ok, "h")
    a = cand.select(
        F.col("doc_id").alias("doc_a"), F.col("idx").alias("ia"), "h"
    )
    b = cand.select(
        F.col("doc_id").alias("doc_b"), F.col("idx").alias("ib"), "h"
    )
    m = a.join(b, "h").where(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "ia", (F.col("ia") - F.col("ib")).alias("d")
    )
    w = Window.partitionBy("doc_a", "doc_b", "d").orderBy("ia")
    islands = (
        m.withColumn("isl", F.col("ia") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "d", "isl")
        .agg(F.count("*").alias("run_len"))
    )
    return (
        islands.groupBy("doc_a", "doc_b")
        .agg(
            F.max("run_len").cast("long").alias("longest_run_blocks"),
            (F.max("run_len") * PASSAGE_BLOCK)
            .cast("long")
            .alias("longest_run_tokens"),
            F.sum("run_len").cast("long").alias("n_matched_blocks"),
        )
        .where(F.col("longest_run_blocks") >= 2)
    )


# --------------------------------------------------------------- 2/8
# URL/domain-aware keeper: the web-corpus staple. documents has no
# url column, so one is SYNTHESIZED deterministically (md5-derived
# host bucket + doc_id path) — the keeper semantics under test are
# real; only the url values are a stand-in, exactly like the KV
# event stream synthesizes client ids. ONE host rule shared by
# dedup_url_keeper and corpus_domain_cap (helpers below) so the two
# domain ops can never disagree about what a domain is.
N_HOSTS = 20

_HOST_SQL = (
    "'h' || CAST(CAST(('0x' || substr(md5('host:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    f" AS UBIGINT) % {N_HOSTS} AS VARCHAR) || '.example.com'"
)


def _host_col() -> F.Column:
    """Spark twin of _HOST_SQL (md5-derived host bucket)."""
    return F.concat(
        F.lit("h"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("host:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % N_HOSTS
        ).cast("string"),
        F.lit(".example.com"),
    )


@query(
    "dedup_url_keeper",
    oracle=rf"""
    WITH u AS (
      SELECT doc_id,
             {_HOST_SQL} AS host,
             md5(text) AS content_digest
      FROM documents
    ),
    g AS (
      SELECT doc_id, host, content_digest,
             'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
             count(*) OVER (PARTITION BY content_digest) AS group_n,
             row_number() OVER (PARTITION BY content_digest
                                ORDER BY host, doc_id) AS rn
      FROM u
    )
    SELECT doc_id, url, host, content_digest,
           CAST(group_n AS BIGINT) AS group_n,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
    FROM g
    """,
)
def dedup_url_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL-group keeper selection: group documents by exact
    content digest and keep ONE per group, preferring the
    lexicographically-smallest host then the smallest doc_id — the
    deterministic restatement of "keep the canonical domain's copy"
    (production swaps the host ordering for a domain-rank table; the
    plan shape is identical). Output is a full verdict table: every
    document with its synthesized url, its duplicate-group size, and
    its keep/drop flag.

    Shape (100 TB): one digest-keyed window (count + row_number over
    the same partitioning — ONE exchange; Catalyst projects the
    digest below it, so the text column never shuffles, the
    text_fingerprint lesson)."""
    d = table(spark, sf_dir, "documents")
    u = d.select(
        "doc_id",
        _host_col().alias("host"),
        F.md5("text").alias("content_digest"),
    )
    wp = Window.partitionBy("content_digest")
    g = u.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "host",
        "content_digest",
        F.count("*").over(wp).cast("long").alias("group_n"),
        F.row_number()
        .over(wp.orderBy("host", "doc_id"))
        .alias("rn"),
    )
    return g.select(
        "doc_id",
        "url",
        "host",
        "content_digest",
        "group_n",
        F.when(F.col("rn") == 1, 1).otherwise(0).cast("int").alias("keep"),
    )


# --------------------------------------------------------------- 3/8
# Repetition / compressibility score: repeated word-3-gram mass per
# document — the standard signal for dropping degenerate generations
# (looping model output, keyword stuffing). rep_score = repeated-gram
# fraction = (total − distinct) / total 3-grams; NULL when the doc has
# no 3-grams (< 3 tokens), identically on both engines.
REP_GRAM = 3


@query(
    "text_repetition_score",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\p{{L}}]+') AS ts
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(ts) >= {REP_GRAM}
                  THEN list_transform(range(0, len(ts) - {REP_GRAM} + 1),
                         i -> array_to_string(ts[i + 1 : i + {REP_GRAM}], ' '))
                  ELSE [] END AS gs
      FROM toks
    )
    SELECT doc_id,
           CAST(len(gs) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
           {exact_ratio_sql("len(gs) - len(list_distinct(gs))", "len(gs)")}
             AS rep_score
    FROM grams
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition score: fraction of word-REP_GRAM-grams
    that are repeats of an earlier gram in the same document
    ((total − distinct) / total, exact-ratio half-up; numerator is
    doc-bounded so the narrow idiom's ceilings hold by construction).
    Documents with fewer than REP_GRAM tokens score NULL — no grams,
    not zero repetition.

    Shape (100 TB): single scan, per-row array expressions (gram
    construction + distinct inside the row), one narrow projection
    out — no shuffle beyond table()'s under-parallel-scan guard
    (which never fires on a many-split corpus)."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("ts")
    )
    ng = F.size("ts") - (REP_GRAM - 1)
    grams = F.when(
        F.size("ts") >= REP_GRAM,
        F.transform(
            F.sequence(F.lit(0), ng - 1),
            lambda i: F.concat_ws(" ", F.slice("ts", i + 1, REP_GRAM)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toks.select("doc_id", grams.alias("gs"))
    return g.select(
        "doc_id",
        F.size("gs").cast("long").alias("n_grams"),
        F.size(F.array_distinct("gs")).cast("long").alias("n_distinct"),
        exact_ratio_spark(
            "size(gs) - size(array_distinct(gs))", "size(gs)"
        ).alias("rep_score"),
    )


# --------------------------------------------------------------- 4/8
# Char-entropy perplexity proxy: integer-exact floor-log2 entropy of
# the per-document character distribution. True Shannon entropy needs
# libm log2 (cross-engine last-ulp risk, the ln caveat in SCALE.md);
# this proxy uses surprise_floor(c) = floor(log2(N div c)) via the
# length(bin(n))−1 idiom — every step integer, bit-identical on any
# engine, and monotone in the true surprise, which is all a
# quality-filter threshold needs.


@query(
    "text_char_entropy",
    oracle=rf"""
    WITH chars AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
      FROM documents
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    tot AS (
      SELECT doc_id, ch, c, sum(c) OVER (PARTITION BY doc_id) AS n
      FROM counts
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_chars_counted,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           CAST(sum(c * (length(bin(n // c)) - 1)) AS BIGINT)
             AS entropy_num,
           {exact_ratio_sql("sum(c * (length(bin(n // c)) - 1))", "max(n)")}
             AS entropy_floor_bits
    FROM tot
    GROUP BY doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact character-entropy proxy per document:
    Σ c·floor(log2(N div c)) / N over the doc's character counts —
    near 0 for single-character spam, ~4-5 bits for natural text.
    floor-log2 is length(bin(n))−1 (proven parity idiom from the
    HLL/histogram sketches); the ratio is the narrow exact-ratio
    (numerator ≤ 63·N, doc-bounded). Empty documents have no char
    rows and are absent from the output on BOTH engines (explode and
    unnest agree on dropping empty lists).

    Shape (100 TB): char explode is linear in corpus bytes and the
    exchange carries (doc_id, ch) — never the text column; one
    narrow aggregate + one doc-keyed window + one final aggregate."""
    chars = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(r"[\s\S]"), 0)).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    tot = counts.withColumn(
        "n", F.sum("c").over(Window.partitionBy("doc_id"))
    )
    surprise_mass = F.expr("c * (length(bin(n div c)) - 1)")
    return tot.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_chars_counted"),
        F.count("*").cast("long").alias("n_distinct_chars"),
        F.sum(surprise_mass).cast("long").alias("entropy_num"),
        exact_ratio_spark(
            "sum(c * (length(bin(n div c)) - 1))", "max(n)"
        ).alias("entropy_floor_bits"),
    )


# --------------------------------------------------------------- 5/8
# Per-source reservoir sample: deterministic md5-rank top-K per
# source — the bounded, reproducible training-subset extraction every
# pipeline needs for eval carve-outs and spot-audits. A true
# streaming reservoir is RNG-stateful; ranking by a seeded hash gives
# the same uniform-without-replacement marginal distribution with no
# state at all (the corpus_sample_temperature idiom, windowed).
RESERVOIR_K = 16


@query(
    "corpus_reservoir_sample",
    oracle=rf"""
    WITH r AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('reservoir:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= {RESERVOIR_K}
    """,
)
def corpus_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-document sample per source: rank documents by
    md5('reservoir:'||doc_id) (doc_id tie-break for the theoretical
    collision) within each source, keep rank ≤ K. Re-running on the
    same corpus reproduces the sample exactly; adding documents
    perturbs it minimally (only hashes that land in the top K).

    Shape (100 TB): one window keyed on source. A skew-hot source is
    bounded by rank ≤ K semantics — Spark runs this as a partial
    top-K per map task before the exchange when the window is
    rank-limited (WindowGroupLimit in the physical plan), so the
    shuffle carries ~K rows per source per task, not the corpus."""
    d = table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("reservoir:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        d.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= RESERVOIR_K)
    )


# --------------------------------------------------------------- 6/8
# Packing-efficiency histogram: pure composition over the
# corpus_pack_sequences frame. Contiguous stream packing fills every
# interior sequence by construction — the operational questions are
# (a) how fragmented sequences are (documents straddling boundaries →
# attention-mask waste) and (b) how much tail capacity each shard
# strands. Histogram rows are keyed by documents-touching-sequence.


@query(
    "corpus_packing_efficiency",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             CAST(len(regexp_extract_all(text, '[\p{{L}}]+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    {pack_sql("t")},
    shard_tot AS (
      SELECT shard, sum(n_tokens) AS tot FROM packed GROUP BY shard
    ),
    seqs AS (
      SELECT p.shard, unnest(generate_series(p.seq_first, p.seq_last)) AS seq
      FROM packed p
    ),
    per_seq AS (
      SELECT s.shard, s.seq, count(*) AS n_docs,
             least(CAST({PACK_BUDGET} AS BIGINT),
                   st.tot - s.seq * {PACK_BUDGET}) AS fill_tokens
      FROM seqs s JOIN shard_tot st USING (shard)
      GROUP BY s.shard, s.seq, st.tot
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs_in_seq,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(fill_tokens) AS BIGINT) AS fill_tokens_total,
           {exact_ratio_wide_sql("sum(fill_tokens)",
                                 f"count(*) * {PACK_BUDGET}")} AS fill_rate
    FROM per_seq
    GROUP BY n_docs
    """,
)
def corpus_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of packing outcomes per training sequence: group
    sequences by how many documents touch them (1 = clean, ≥2 =
    cross-document attention masking needed) with each bucket's
    total and mean fill. fill_tokens is PACK_BUDGET for every
    sequence except each shard's last (tot − seq·BUDGET remaining);
    fill_rate uses the WIDE exact ratio — the numerator is a
    whole-corpus token sum (the advisor-r05 promotion class).

    Shape (100 TB): reuses pack_sequences_frame (ONE shared packing
    rule with corpus_pack_sequences / pipeline_training_export, so
    the boundary rule cannot drift); the seq explode adds ≤
    n_tokens/BUDGET + 1 rows per doc (linear, narrow ints); shard
    totals are an 8-row broadcast."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(_tokens()).cast("long").alias("n_tokens")
    )
    packed = pack_sequences_frame(d)
    shard_tot = packed.groupBy("shard").agg(F.sum("n_tokens").alias("tot"))
    seqs = packed.select(
        "shard",
        F.explode(F.sequence("seq_first", "seq_last")).alias("seq"),
    )
    per_seq = (
        seqs.join(F.broadcast(shard_tot), "shard")
        .groupBy("shard", "seq", "tot")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "shard",
            "seq",
            "n_docs",
            F.least(
                F.lit(PACK_BUDGET).cast("long"),
                F.col("tot") - F.col("seq") * PACK_BUDGET,
            ).alias("fill_tokens"),
        )
    )
    return per_seq.groupBy(F.col("n_docs").cast("long").alias("n_docs_in_seq")).agg(
        F.count("*").cast("long").alias("n_seqs"),
        F.sum("fill_tokens").cast("long").alias("fill_tokens_total"),
        exact_ratio_wide_spark(
            "sum(fill_tokens)", f"count(*) * {PACK_BUDGET}"
        ).alias("fill_rate"),
    )


# --------------------------------------------------------------- 7/8
# Quality-threshold calibration curve: before committing a corpus to
# a QUALITY_MIN cutoff (pipeline_clean_corpus drops below 0.40), a
# pipeline owner needs the kept-docs / kept-tokens curve across
# candidate thresholds — set the knob by looking at the mass it
# removes, not by folklore. Same calibration pattern as
# dedup_threshold_curve, applied to the quality axis.
QUALITY_THRESHOLDS_PCT = [30, 35, 40, 45, 50, 55, 60]

# One kept-predicate text, shared verbatim by the Spark aggregate
# exprs and the DuckDB oracle so the comparison can never drift:
# CAST(int)/100.0 is the identical correctly-rounded double on both
# engines, and a NULL quality_score (empty doc) falls to ELSE — NULL
# scores are DROPPED at every threshold by contract.
_KEPT = "CASE WHEN quality_score >= CAST(threshold_pct AS DOUBLE) / 100.0 THEN {v} ELSE 0 END"


@query(
    "quality_threshold_curve",
    oracle=rf"""
    WITH qs AS ("""
    + REGISTRY["text_quality_score"].oracle
    + rf"""),
    x AS (
      SELECT doc_id, quality_score, n_words,
             unnest([{", ".join(str(t) for t in QUALITY_THRESHOLDS_PCT)}]) AS threshold_pct
      FROM qs
    )
    SELECT CAST(threshold_pct AS BIGINT) AS threshold_pct,
           CAST(sum({_KEPT.format(v='1')}) AS BIGINT) AS n_kept,
           CAST(count(*) - sum({_KEPT.format(v='1')}) AS BIGINT) AS n_dropped,
           CAST(sum({_KEPT.format(v='n_words')}) AS BIGINT) AS tokens_kept,
           {exact_ratio_wide_sql(f"sum({_KEPT.format(v='n_words')})",
                                 "sum(n_words)")} AS token_share_kept
    FROM x
    GROUP BY threshold_pct
    """,
)
def quality_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept-documents / kept-tokens curve over candidate quality
    cutoffs: for each threshold (percent, integer-keyed — float group
    keys are a cross-engine hazard), how many documents and what
    word-token mass survive `quality_score >= t`. token_share_kept is
    kept tokens over ALL corpus tokens (the wide exact ratio — the
    numerator is a whole-corpus token sum). NULL quality scores
    (empty documents) are dropped at every threshold by contract.

    Shape (100 TB): ONE corpus scan through the shared quality_frame,
    a 7-way per-row explode of an integer literal array (bounded
    fan-out, narrow columns — doc_id, score, n_words), one aggregate
    keyed on 7 values. On an empty corpus the group-by emits zero
    rows on both engines (the explode-before-aggregate shape, chosen
    over global-agg-feeds-stack precisely for the r06
    vocab_coverage_topk empty-contract lesson)."""
    qf = quality_frame(table(spark, sf_dir, "documents"))
    x = qf.select(
        "doc_id",
        "quality_score",
        "n_words",
        F.explode(
            F.array(*[F.lit(t) for t in QUALITY_THRESHOLDS_PCT])
        ).alias("threshold_pct"),
    )
    kept_docs = F.expr(f"sum({_KEPT.format(v='1')})")
    kept_tokens_sql = f"sum({_KEPT.format(v='n_words')})"
    return x.groupBy(F.col("threshold_pct").cast("long").alias("threshold_pct")).agg(
        kept_docs.cast("long").alias("n_kept"),
        (F.count("*") - kept_docs).cast("long").alias("n_dropped"),
        F.expr(kept_tokens_sql).cast("long").alias("tokens_kept"),
        exact_ratio_wide_spark(kept_tokens_sql, "sum(n_words)").alias(
            "token_share_kept"
        ),
    )


# --------------------------------------------------------------- 8/8
# Per-domain token cap: the CommonCrawl-style guard against any one
# domain dominating the blend — each host contributes documents (in
# deterministic md5 priority order) only until its cumulative token
# budget is reached; the rest are dropped. The md5 order makes the
# kept subset a uniform sample of the host's documents, reproducible
# run-over-run, exactly like corpus_sample_temperature's seeded
# threshold.
DOMAIN_CAP_TOKENS = 500


@query(
    "corpus_domain_cap",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_HOST_SQL} AS host,
             CAST(len(regexp_extract_all(text, '[\p{{L}}]+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, host, n_tokens,
             -- CAST: DuckDB sum() yields HUGEINT, which pandas turns
             -- into float ("125.0" vs Spark's "125" after the
             -- compare's stringify)
             CAST(sum(n_tokens) OVER (
               PARTITION BY host
               ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, host, n_tokens, cum_tokens,
           CAST(CASE WHEN cum_tokens - n_tokens < {DOMAIN_CAP_TOKENS}
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM c
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-cap verdicts: within each (synthesized) host, documents
    are admitted in md5-priority order while the host's cumulative
    token count stays under DOMAIN_CAP_TOKENS — a document is kept iff
    it STARTS below the cap (cum − own < cap), so every host keeps at
    least one document and the kept mass overshoots by at most one
    document (the standard greedy cap rule; a strict cap would need
    doc splitting). Shares the host definition with dedup_url_keeper
    via _HOST_SQL/_host_col — one domain rule, two ops.

    Shape (100 TB): one host-keyed window cumsum (the pack-frame
    idiom; the exchange carries doc_id/host/ints — text never
    shuffles because the token count projects below the window).
    Hosts are naturally bounded in size; a pathological mega-host is
    still one partition of (id, int) rows, and the md5 order key
    means no sort skew beyond that host's row count."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        _host_col().alias("host"),
        F.size(_tokens()).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("host")
        .orderBy(
            F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return c.select(
        "doc_id",
        "host",
        "n_tokens",
        "cum_tokens",
        F.when(
            F.col("cum_tokens") - F.col("n_tokens") < DOMAIN_CAP_TOKENS, 1
        )
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )


# =====================================================================
# Corpus reports that reuse the similarity, decontamination and dedup
# oracle fragments.
# =====================================================================
from ..operators import similarity as _S  # noqa: E402
from .similarity import _BUCKETS_SQL, _COS_SQL, _PLANES, _PLANES_VALUES, _QUANT_SQL  # noqa: E402
from .decontam import HOLDOUT_MOD, _HITS_SQL  # noqa: E402
from .dedup import _SHINGLES_SQL  # noqa: E402


# --------------------------------------------------------------- 1/4
# Shard-skew audit for the packing sharder: per-shard token mass vs
# the uniform share. The pack frame (corpus_pack_sequences /
# pipeline_training_export) shards by doc_id % PACK_SHARDS; a skewed
# shard means one training-data writer finishes long after the rest
# (stragglers at 100 TB are per-shard, not per-task). Same shard rule
# and same n_tokens>0 floor as pack_sequences_frame so the audit can
# never drift from the sharder it audits.
#
# Shape (100 TB): one corpus scan → (shard, n_tokens) → a
# PACK_SHARDS-row aggregate; the totals join is a broadcast of that
# k-row table. Output is bounded by the shard count at any corpus
# size. skew_factor = shard_tokens·n_shards/total (1.0 = perfectly
# uniform); wide ratios because the numerator is a whole-corpus token
# sum times shard count.
@query(
    "corpus_shard_skew",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id % {PACK_SHARDS} AS shard,
             CAST(len(regexp_extract_all(text, '[\p{{L}}]+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    nz AS (SELECT shard, n_tokens FROM t WHERE n_tokens > 0),
    per AS (
      SELECT shard, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
      FROM nz GROUP BY shard
    ),
    tot AS (
      SELECT CAST(sum(shard_tokens) AS BIGINT) AS total_tokens,
             CAST(count(*) AS BIGINT) AS n_shards
      FROM per
    )
    SELECT per.shard, per.n_docs, per.shard_tokens,
           {exact_ratio_wide_sql("per.shard_tokens", "tot.total_tokens")}
             AS token_share,
           {exact_ratio_wide_sql("per.shard_tokens * tot.n_shards",
                                 "tot.total_tokens")} AS skew_factor
    FROM per, tot
    """,
)
def corpus_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard token mass + skew factor for the doc_id % PACK_SHARDS
    packing sharder (1.0 = uniform). One scan, one k-row aggregate,
    one broadcast totals join — bounded output at any corpus size."""
    t = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(_tokens()).cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    per = t.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
    )
    tot = per.agg(
        F.sum("shard_tokens").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_shards"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "shard_tokens",
        exact_ratio_wide_spark("shard_tokens", "total_tokens").alias(
            "token_share"
        ),
        exact_ratio_wide_spark(
            "shard_tokens * n_shards", "total_tokens"
        ).alias("skew_factor"),
    )


# --------------------------------------------------------------- 2/4
# Cross-source vocabulary overlap: Jaccard of the top-K token sets of
# every source pair — the domain-shift audit a mixture designer reads
# before setting blend weights (two "different" crawls whose top
# vocabularies are near-identical add redundancy, not diversity).
#
# Shape (100 TB): (source, token) aggregate (one shuffle over tokens,
# the same width as every tf table here) → per-source top-K via
# row_number (WindowGroupLimit ships ~K rows per source per task) →
# the pair join runs over ≤ K·|sources| rows, broadcastable at any
# corpus size. Zero-overlap pairs are emitted (LEFT JOIN from the
# pair frame) — silence is a finding in a mixture audit.
VOCAB_K = 200


@query(
    "tokenizer_vocab_overlap",
    oracle=rf"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[\p{{L}}]+')) AS token
      FROM documents
    ),
    cnt AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY source, token),
    ranked AS (
      SELECT source, token,
             row_number() OVER (PARTITION BY source
                                ORDER BY tf DESC, token ASC) AS rk
      FROM cnt
    ),
    top AS (SELECT source, token FROM ranked WHERE rk <= {VOCAB_K}),
    vsz AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM top GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM top a JOIN top b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT va.source AS source_a, vb.source AS source_b,
           va.v AS vocab_a, vb.v AS vocab_b,
           coalesce(s.n_shared, 0) AS n_shared,
           {exact_ratio_sql("coalesce(s.n_shared, 0)",
                            "va.v + vb.v - coalesce(s.n_shared, 0)")}
             AS jaccard
    FROM vsz va
    JOIN vsz vb ON va.source < vb.source
    LEFT JOIN shared s ON s.source_a = va.source AND s.source_b = vb.source
    """,
)
def tokenizer_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K vocabulary Jaccard for every source pair (zero-overlap
    pairs included). Grouped top-K via row_number so the pair join
    sees ≤ K rows per source, never the token table."""
    tok = table(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[\p{L}]+"), 0)
        ).alias("token"),
    )
    cnt = tok.groupBy("source", "token").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("token"))
    top = (
        cnt.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= VOCAB_K)
        .select("source", "token")
    )
    vsz = top.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    shared = (
        top.alias("a")
        .join(
            top.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    pairs = (
        vsz.alias("va")
        .join(
            F.broadcast(vsz.alias("vb")),
            F.col("va.source") < F.col("vb.source"),
        )
        .select(
            F.col("va.source").alias("source_a"),
            F.col("vb.source").alias("source_b"),
            F.col("va.v").alias("vocab_a"),
            F.col("vb.v").alias("vocab_b"),
        )
    )
    out = pairs.join(shared, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "vocab_a",
        "vocab_b",
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        exact_ratio_spark(
            "coalesce(n_shared, 0)", "vocab_a + vocab_b - coalesce(n_shared, 0)"
        ).alias("jaccard"),
    )
    return out


# --------------------------------------------------------------- 3/4
# Near-pair graph degree profile: how many near-duplicates each
# vector participates in, as a degree histogram with degree-0
# (isolated) vectors included. The ANN-graph health check before
# building retrieval indexes or dedup clusters: a fat high-degree
# tail means boilerplate/templated content (hub vectors) that will
# dominate any graph walk, and the isolated share is the fraction of
# the corpus that fuzzy dedup cannot touch.
#
# Shape (100 TB): pairs come from the sub-quadratic LSH bucket join
# (never all-pairs); degrees are one aggregate over 2 rows per pair;
# the isolated count is a LEFT JOIN of the (already quantized) vector
# ids against the degree table — shuffle keyed on vec_id, output
# bounded by the distinct-degree count.
@query(
    "similarity_graph_degree",
    oracle=rf"""
    WITH planes(p, d, w) AS (VALUES {_PLANES_VALUES}),
    {_QUANT_SQL},
    {_BUCKETS_SQL},
    prs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_COS_SQL.format(a="a", b="b.q", n2b="b.n2")} >= 0.45
    ),
    ends AS (
      SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs
    ),
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY id)
    SELECT coalesce(d.degree, 0) AS degree,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM n LEFT JOIN deg d ON n.vec_id = d.id
    GROUP BY 1
    """,
)
def similarity_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the LSH near-pair graph (cos ≥ 0.45),
    degree-0 vectors included via a LEFT JOIN against the quantized
    vector table — isolated share and hub tail in one bounded table."""
    emb = table(spark, sf_dir, "embeddings")
    pairs = _S.lsh_near_pairs(emb, threshold=0.45, planes=_PLANES).select(
        "id_a", "id_b"
    )
    deg = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    v = _S.embeddings_quantized(emb).select("vec_id")
    return (
        v.join(deg, v.vec_id == deg.id, "left")
        .select(F.coalesce("degree", F.lit(0)).cast("long").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_vecs"))
    )


# --------------------------------------------------------------- 4/4
# Benchmark-side exposure report: the mirror of decontam_drop_list.
# The drop list cleans the CORPUS; this table grades the EVAL — for
# every benchmark document: how many corpus documents collide with
# it, the worst single-document overlap, and that overlap as a
# fraction of the benchmark doc's own gram set (1.0 = some corpus
# doc contains every distinctive gram of this eval item — the item
# is memorizable and must be excluded from reported metrics).
# Zero-hit items are emitted too: the usable-eval inventory.
#
# Shape (100 TB): rides the identical df-capped gram join as the
# other decontam queries (shuffled by gram, hot grams excluded by
# the boilerplate cap); the rollup is per-bench-doc (holdout-sized,
# tiny); the gram-count side is an aggregate of the same shingle
# table. LEFT JOINs keep clean items without a second corpus pass.
@query(
    "decontam_bench_exposure",
    oracle=rf"""
    WITH {_SHINGLES_SQL},
    {_HITS_SQL},
    bgr AS (
      SELECT id, CAST(count(*) AS BIGINT) AS n_grams
      FROM sh WHERE id % {HOLDOUT_MOD} = 0 GROUP BY id
    ),
    bench AS (
      SELECT doc_id AS bench_id FROM documents
      WHERE doc_id % {HOLDOUT_MOD} = 0
    ),
    agg AS (
      SELECT bench_id,
             CAST(count(*) AS BIGINT) AS n_corpus_hits,
             CAST(max(shared_grams) AS BIGINT) AS max_shared,
             CAST(sum(shared_grams) AS BIGINT) AS total_shared
      FROM hits GROUP BY bench_id
    )
    SELECT b.bench_id,
           coalesce(a.n_corpus_hits, 0) AS n_corpus_hits,
           coalesce(a.max_shared, 0) AS max_shared,
           coalesce(a.total_shared, 0) AS total_shared,
           coalesce(g.n_grams, 0) AS n_grams,
           {exact_ratio_sql("coalesce(a.max_shared, 0)", "g.n_grams")}
             AS worst_overlap
    FROM bench b
    LEFT JOIN agg a ON b.bench_id = a.bench_id
    LEFT JOIN bgr g ON b.bench_id = g.id
    """,
)
def decontam_bench_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-doc contamination exposure (zero-hit items
    included): hit count, worst single-corpus-doc overlap, and that
    overlap as a fraction of the item's own distinct grams
    (NULL when the item has no grams to leak)."""
    from .decontam import _hits_and_shingles

    docs = table(spark, sf_dir, "documents")
    # ONE tokenize/shingle pass: the gram counts aggregate the same
    # persisted shingle frame the hits join was built from (review
    # r08: calling shingle_pairs_df again doubled the most expensive
    # stage).
    hits, sh = _hits_and_shingles(spark, sf_dir)
    bgr = (
        sh.where(F.col("id") % HOLDOUT_MOD == 0)
        .groupBy(F.col("id").alias("bench_id"))
        .agg(F.count("*").cast("long").alias("n_grams"))
    )
    bench = docs.where(F.col("doc_id") % HOLDOUT_MOD == 0).select(
        F.col("doc_id").alias("bench_id")
    )
    agg = hits.groupBy("bench_id").agg(
        F.count("*").cast("long").alias("n_corpus_hits"),
        F.max("shared_grams").cast("long").alias("max_shared"),
        F.sum("shared_grams").cast("long").alias("total_shared"),
    )
    return (
        bench.join(agg, "bench_id", "left")
        .join(bgr, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_corpus_hits", F.lit(0)).cast("long").alias(
                "n_corpus_hits"
            ),
            F.coalesce("max_shared", F.lit(0)).cast("long").alias("max_shared"),
            F.coalesce("total_shared", F.lit(0)).cast("long").alias(
                "total_shared"
            ),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            exact_ratio_spark("coalesce(max_shared, 0)", "n_grams").alias(
                "worst_overlap"
            ),
        )
    )
