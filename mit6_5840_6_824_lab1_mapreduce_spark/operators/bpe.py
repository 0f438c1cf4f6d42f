"""Byte-pair-encoding merge learning as an iterative DataFrame loop.

The tokenizer-training step of an LLM data pipeline: given the corpus
WORD-FREQUENCY table (vocabulary-sized — sub-linear in the corpus,
the standard compression that makes BPE training tractable at 100 TB),
learn the top-N merge rules by repeatedly (1) counting adjacent symbol
pairs weighted by word frequency, (2) picking the most frequent pair
(deterministic tie-break), (3) merging every greedy left-to-right
occurrence of the pair inside every word.

Engine-agnostic determinism: symbols are restricted to ASCII [a-z]
plus the end-of-word marker, and the symbol sequence is a delimited
string rewritten by plain (non-regex) substring replace — identical
non-overlapping left-to-right semantics in Spark and DuckDB. The
boundary is the ASYMMETRIC two-char sequence '·¦' and the merge
search pattern is '¦a·¦b·' -> '¦ab·': the replace consumes the pair's
inner and trailing '·' but leaves the trailing '¦', which is exactly
the leading '¦' the next adjacent match needs — so a run 'a a a a'
merges to 'aa aa' (textbook greedy BPE), not the 'aa a a' that a
shared single delimiter would produce by consuming the boundary.
The oracle replays the identical recurrence through chained CTEs.

Reference analog: the iterative map(count pairs) → reduce(argmax) →
map(rewrite) cycle is the repeated-job pattern the reference drives
through its coordinator (`/root/reference/src/main/mrcoordinator.go`);
here each round is one vocabulary-sized aggregate, and the rounds run
on operators/loop.py's `iterate`, which truncates lineage per round
like the CC, PageRank and k-means loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .loop import iterate, truncate

# Symbol-sequence markers. Words are pre-filtered to ASCII [a-z], so
# neither marker can collide with content. BOUND must stay two
# distinct chars: the merge replace splits it (consumes '·', keeps
# '¦') to preserve greedy adjacency — see module docstring.
BOUND = "·¦"  # between symbols (and at both ends)
EOW = "§"  # end-of-word symbol


def word_symseq(words: DataFrame, word_col: str = "word") -> DataFrame:
    """Add the initial boundary-delimited symbol sequence: one symbol
    per character plus the end-of-word marker
    ('the' -> '·¦t·¦h·¦e·¦§·¦')."""
    return words.withColumn(
        "symseq",
        F.concat(
            F.lit(BOUND),
            F.regexp_replace(F.col(word_col), "(.)", "$1" + BOUND),
            F.lit(EOW + BOUND),
        ),
    )


def _apply_merge(seq: DataFrame, a: str, b: str) -> DataFrame:
    """Merge every greedy left-to-right occurrence of the symbol pair
    (a, b) in ``symseq``: '¦a·¦b·' -> '¦ab·' (see module docstring)."""
    rule = F.replace(F.col("symseq"), F.lit(f"¦{a}{BOUND}{b}·"), F.lit(f"¦{a}{b}·"))
    return seq.withColumn("symseq", rule)


def adjacent_pair_counts(seq: DataFrame, freq_col: str = "freq") -> DataFrame:
    """Frequency-weighted adjacent symbol-pair counts across the
    vocabulary: split the delimited sequence, enumerate positions,
    sum word frequencies per (left, right) pair. One vocabulary-sized
    explode + one shuffle keyed by the pair (map-side partial sums)."""
    syms = F.filter(F.split("symseq", BOUND), lambda t: t != F.lit(""))
    # Guard size >= 2: Spark's sequence(1, 0) yields DESCENDING [1, 0]
    # (not empty like DuckDB's generate_series), so a fully-merged
    # single-symbol word would index element_at(syms, 0) and throw.
    pairs = F.expr(
        "CASE WHEN size(syms) >= 2 THEN"
        " transform(sequence(1, size(syms) - 1),"
        "  i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
        " ELSE array() END"
    )
    return (
        seq.select(F.col(freq_col).alias("freq"), syms.alias("syms"))
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("left_sym"), F.col("p.b").alias("right_sym"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def bpe_learn_merges(words: DataFrame, n_merges: int) -> DataFrame:
    """Learn `n_merges` BPE merge rules from a (word, freq) table.

    Returns (merge_rank, left_sym, right_sym, pair_count) — one row
    per learned rule in learning order. Ties break on (left, right)
    symbol order, so the rule sequence is engine-reproducible.

    Scale shape: every round is one aggregate over the VOCABULARY
    (never the corpus); the winner is a 1-row top-1 collected to the
    driver (the same loop-control scalar class as the CC loop's
    convergence count — BPE is driver-sequenced by nature, and the
    dry-run probe already pulled this row) and re-enters the rewrite
    as two string literals. The rounds run on operators/loop.py's
    `iterate`: round i applies merge i and picks winner i+1, whose
    aggregate materializes the round's lazily truncated sequence
    table, so plan depth stays constant across rounds. r12
    optimization: the previous shape kept the winner as a 1-row
    checkpointed frame crossJoin-broadcast into the rewrite — one
    extra checkpoint + broadcast build per round whose only content
    the driver had already fetched for the dry-run probe; stage count
    per round drops to the one aggregate job.
    """
    learned: list[tuple[int, str, str, int]] = []

    def pick(seq: DataFrame) -> bool:
        """Record the next winner; true once n_merges are learned or
        the candidates run dry (every word fully merged)."""
        # Top-1 via TakeOrderedAndProject (map-side partial top-k);
        # the collect doubles as the dry-run probe.
        rows = (
            adjacent_pair_counts(seq)
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(1)
            .collect()
        )
        if rows:
            learned.append((len(learned) + 1, *rows[0]))
        return not rows or len(learned) == n_merges

    def merge(seq: DataFrame) -> DataFrame:  # the last recorded rule
        return _apply_merge(seq, *learned[-1][1:3])

    # The initial sequence is truncated too: the first pick
    # materializes it, and round 1 then reads it instead of
    # tokenizing `words` a second time.
    seq = truncate(word_symseq(words))
    if n_merges > 0 and not pick(seq):
        iterate("bpe_learn_merges", seq, merge, n_merges - 1, done=pick)
    # Arrow local frame, not createDataFrame(list): the list path
    # parallelizes into one Python-backed partition per core, and the
    # first action over the merges table then pays ~32 Python worker
    # round trips for <= n_merges rows (r13; rationale + measurements
    # in session.local_rows_df).
    from ..session import local_rows_df

    schema = "merge_rank long, left_sym string, right_sym string, pair_count long"
    return local_rows_df(words.sparkSession, learned, schema)


def bpe_segment(seq_words: DataFrame, merges: DataFrame) -> DataFrame:
    """Apply an ordered merge-rule table to a (word, symseq) table:
    fold the rules in rank order (collected once — the rule table is
    n_merges rows by construction) into chained substring replaces.
    Returns (word, symseq) with all merges applied — the trained
    tokenizer's segmentation of each vocabulary word."""
    out = seq_words
    for r in merges.orderBy("merge_rank").collect():
        out = _apply_merge(out, r["left_sym"], r["right_sym"])
    return out
