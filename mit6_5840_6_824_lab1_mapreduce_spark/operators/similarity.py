"""Similarity search over embedding columns (array<float>).

Exact-arithmetic contract: floats are quantized to int64
(round(x·10⁶)) so dot products and norms are exact integer sums —
order-independent, engine-independent. cosine = dot / (√na·√nb)
computed from those exact integers is then bit-identical everywhere.
(Quantization error ~1e-6 is far below any ranking threshold and is
applied identically on both engines.)

Everything is JVM-side (zip_with / aggregate — whole-stage codegen);
no Python UDFs. The brute-force path is the correctness baseline;
random-hyperplane LSH is the scale path: bucket = 8 sign bits, so
candidate generation is an equi-join on bucket — at 100 TB the
all-pairs product never materializes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .loop import iterate

SCALE = 1_000_000
N_PLANES = 8


def quantized(col: Column) -> Column:
    """array<float> → array<long>, x → round(x·10⁶)."""
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.round(x * SCALE, 0).cast("long"),
    )


def dot_ll(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return dot_ll(a, a)


def cosine(a_q: Column, b_q: Column, a_n2: Column, b_n2: Column) -> Column:
    """cosine from quantized vectors + precomputed squared norms, at
    6dp via det_round (deterministic: exact integer inputs, correctly
    rounded sqrt/divide; native round(double, 6) is tie-divergent
    cross-engine — round-5 sweep).

    Zero-norm contract (round-6): a vector whose every component
    quantizes to 0 (a dead embedding, or all |x| < 0.5e-6) has no
    direction — cosine is NULL. Threshold predicates (cos >= t) drop
    such rows on BOTH engines; top-k paths do NOT drop them — both
    engines sort NULLS LAST under DESC, so NULL-cos rows can still
    fill out the k when a bucket holds fewer than k live candidates
    (consumers must treat cos as nullable). Without the guard, Spark
    under ANSI mode THROWS
    DIVIDE_BY_ZERO on double division while DuckDB yields NULL — a
    single dead embedding anywhere in a 100 TB corpus would kill the
    whole job. try_divide is the Spark-side NULL-division idiom."""
    from ..queries._util import det_round_col

    return det_round_col(
        F.try_divide(
            dot_ll(a_q, b_q),
            F.sqrt(a_n2.cast("double")) * F.sqrt(b_n2.cast("double")),
        ),
        6,
    )


def hyperplanes(n_planes: int = N_PLANES, dim: int = 64) -> list[list[int]]:
    """Deterministic pseudo-random integer hyperplanes from md5 —
    a compile-time constant shared verbatim with the SQL oracle.
    Weight ∈ {-15..15}: 2·hexdigit − 15 of md5('p:<p>:<d>')."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            digit = int(hashlib.md5(f"p:{p}:{d}".encode()).hexdigest()[0], 16)
            row.append(2 * digit - 15)
        planes.append(row)
    return planes


def lsh_bucket(q: Column, planes: list[list[int]]) -> Column:
    """Bucket id = Σ_p (sign(dot(v, w_p)) > 0) << p — exact integer
    arithmetic end to end."""
    bucket = F.lit(0).cast("long")
    for p, w in enumerate(planes):
        warr = F.array(*[F.lit(x).cast("long") for x in w])
        s = dot_ll(q, warr)
        bucket = bucket + F.when(s > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def embedding_populated(col: Column | None = None) -> Column:
    """The repo-wide NULL-vector drop rule (r08 nulls contract,
    SCALE.md §Null-input contract class c): a vector participates in
    similarity/quantization only if it is non-NULL and fully
    populated. One rule, applied in ``embeddings_quantized`` on the
    Spark side and as the ``EMB_OK_SQL`` WHERE in every oracle that
    quantizes — NULL vectors and NULL elements otherwise propagate
    differently per engine (Spark NULL cosine vs DuckDB list ops).
    Loudly countable: dropped = emb.count() - emb.where(rule).count().
    """
    if col is None:
        col = F.col("embedding")
    return col.isNotNull() & ~F.exists(col, lambda x: x.isNull())


# DuckDB twin of embedding_populated — spliced into every oracle CTE
# that reads the raw embedding column for quantization (_QUANT_SQL,
# embedding_norm_stats, embedding_quantize_int8). The named-constant
# splice EMITS the same text as pasting this literal at each site, so
# the rule has exactly one definition per engine side; note that
# ADDING the rule (the r08 `WHERE {EMB_OK_SQL}` nulls fix) did change
# every downstream oracle's emitted text and def-hash — those rows
# were seat-planned into the r08 window intentionally (advisor r09:
# don't read this constant as making oracle EDITS seat-free; only the
# constant-vs-pasted-literal equivalence is free).
EMB_OK_SQL = (
    "embedding IS NOT NULL AND NOT EXISTS "
    "(SELECT 1 FROM unnest(embedding) AS u(x) WHERE x IS NULL)"
)


def embeddings_quantized(emb: DataFrame) -> DataFrame:
    return emb.where(embedding_populated()).select(
        "vec_id",
        "label",
        quantized(F.col("embedding")).alias("q"),
    ).withColumn("n2", norm2(F.col("q")))


def brute_force_topk(
    emb: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """Baseline exact top-k by cosine against one query vector.
    Broadcast the single query row; TakeOrderedAndProject for top-k."""
    v = embeddings_quantized(emb)
    qrow = v.where(F.col("vec_id") == query_vec_id).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("q_q"), F.col("n2").alias("q_n2")
    )
    joined = v.where(F.col("vec_id") != query_vec_id).crossJoin(F.broadcast(qrow))
    return (
        joined.select(
            "vec_id",
            cosine(F.col("q"), F.col("q_q"), F.col("n2"), F.col("q_n2")).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_ann_topk(
    emb: DataFrame, query_vec_id: int, k: int = 5, planes: list[list[int]] | None = None
) -> DataFrame:
    """ANN: exact cosine ranking restricted to the query's LSH bucket.
    At scale the table is pre-bucketed (partitioned by bucket), so a
    query touches one partition — this is IVF-style partition pruning
    with hyperplane buckets."""
    planes = planes or hyperplanes()
    v = embeddings_quantized(emb).withColumn("bucket", lsh_bucket(F.col("q"), planes))
    qrow = v.where(F.col("vec_id") == query_vec_id).select(
        F.col("q").alias("q_q"),
        F.col("n2").alias("q_n2"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = v.crossJoin(F.broadcast(qrow)).where(
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != query_vec_id)
    )
    return (
        cands.select(
            "vec_id",
            cosine(F.col("q"), F.col("q_q"), F.col("n2"), F.col("q_n2")).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


MAX_EXACT_ROWS = 100_000


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    block_size: int = 512,
    max_rows: int = MAX_EXACT_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above `threshold` —
    exact all-pairs baseline as a DISTRIBUTED block join. Nothing is
    collected to the driver; the whole plan is JVM-side codegen.

    Shape (block matrix product as DataFrame algebra):
      block(i) = vec_id div block_size
      bp       = {(ba, bb) | ba ≤ bb}          # tiny block-pair table
      pairs    = A ⋈ bp on ba  ⋈  B on bb      # two equi-joins
                 where id_a < id_b
    bp (k²/2 rows, k = n/B) is always broadcast; the B-side join is a
    plain equi-join on the block id — broadcast while the table fits,
    shuffle-on-block-id beyond that. Each task scores a stream of
    A-rows against hash-built B-blocks, i.e. bounded B×B tiles of the
    product; no pair ever materializes outside a pipelined join
    stream. Row replication is O(n²/B) — inherent to exact all-pairs;
    past ~10⁵ vectors use `lsh_near_pairs` (bucket equi-join,
    sub-quadratic).

    cosine = round(dot/(√na·√nb), 6) from int64-quantized vectors —
    exact integers until the final division, so results are
    bit-identical to the SQL restatement.

    The ~10⁵-vector contract is ENFORCED, not advisory: a broadcast
    1-row count guard raises in-plan when the input exceeds
    ``max_rows`` (no eager driver-side count — the check runs inside
    the same job), telling the caller to use `lsh_near_pairs`."""
    v = embeddings_quantized(emb)
    # In-plan size gate: one tiny aggregate, broadcast as a single
    # row; the filter on _gate keeps Catalyst from pruning the
    # raise_error expression away.
    guard = emb.agg(F.count(F.lit(1)).alias("_n")).select(
        F.when(
            F.col("_n") > max_rows,
            F.raise_error(
                F.concat(
                    F.lit("embedding_near_pairs: input has "),
                    F.col("_n").cast("string"),
                    F.lit(
                        f" rows > max_rows={max_rows}; exact all-pairs cosine "
                        "is O(n**2) — use lsh_near_pairs (sub-quadratic LSH "
                        "bucket join) or raise max_rows explicitly"
                    ),
                )
            ).cast("int"),
        )
        .otherwise(F.lit(1))
        .alias("_gate")
    )
    blk = (F.col("vec_id") / block_size).cast("long")
    # Local-testdata note: embeddings ship as one parquet file → a
    # 1-partition scan; spread the probe side so the tile scoring
    # parallelizes (no-op cost on a real multi-file corpus).
    a = v.select(
        F.col("vec_id").alias("id_a"),
        blk.alias("ba"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na"),
    ).repartition(emb.sparkSession.sparkContext.defaultParallelism)
    b = v.select(
        F.col("vec_id").alias("id_b"),
        blk.alias("bb"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
    )
    blocks = v.select(blk.alias("blk")).distinct()
    bp = (
        blocks.alias("x")
        .join(F.broadcast(blocks.alias("y")), F.col("x.blk") <= F.col("y.blk"))
        .select(F.col("x.blk").alias("ba"), F.col("y.blk").alias("bb"))
    )
    cand = (
        a.crossJoin(F.broadcast(guard))
        .where(F.col("_gate") == 1)
        .join(F.broadcast(bp), "ba")
        .join(b, "bb")
        .where(F.col("id_a") < F.col("id_b"))
    )
    return cand.select(
        "id_a",
        "id_b",
        cosine(F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")).alias("cos"),
    ).where(F.col("cos") >= threshold)


def batch_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact top-k neighbours for a BATCH of query vectors in one
    pass: broadcast the query batch, score corpus×queries, rank per
    query with a row_number window. Spark ≥3.5 inserts a
    WindowGroupLimit below the rank filter, so each task keeps only
    its local top-k before the q_id shuffle — the per-partition
    partial top-k a hand-written two-phase job would do, for free.
    At 100 TB this is THE retrieval shape: one corpus scan amortized
    over the whole query batch instead of a job per query."""
    v = embeddings_quantized(emb)
    q = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    scored = v.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        cosine(F.col("q"), F.col("qq"), F.col("n2"), F.col("qn2")).alias("cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def seed_centroids(v: DataFrame, n_seeds: int = 8) -> DataFrame:
    """Deterministic seeds: the first n_seeds vectors by vec_id."""
    return v.where(F.col("vec_id") < n_seeds).select(
        F.col("vec_id").alias("cid"),
        F.col("q").alias("cq"),
        F.col("n2").alias("cn2"),
    )


def kmeans_step(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """One k-means (Lloyd) step over quantized vectors: assign each
    vector to its nearest centroid by exact integer distance (argmin
    of ||c||² − 2·v·c, ties → smaller cid); new centroid =
    per-dimension integer mean (rounded half away from zero — int64
    ops only, engine-agnostic, so the iteration is bit-reproducible).

    Scale shape: assignment is a broadcast of k centroid rows against
    the corpus (k·n scored rows, map-side only); the mean is a
    posexplode → groupBy(cid, pos) sum — the exploded table shuffles
    on (cid, pos), so a 100 TB corpus spreads across the cluster
    instead of one reducer per centroid."""
    a = ivf_assign(v, centroids)
    ex = v.join(a, "vec_id").select(
        "cid", F.posexplode(F.col("q")).alias("pos", "val")
    )
    sums = ex.groupBy("cid", "pos").agg(
        F.sum("val").alias("s"), F.count("*").alias("cnt")
    )
    mean_q = F.when(
        F.col("s") >= 0, F.expr("(2*s + cnt) div (2*cnt)")
    ).otherwise(-F.expr("(2*(-s) + cnt) div (2*cnt)"))
    comp = sums.select("cid", "pos", mean_q.cast("long").alias("m"), "cnt")
    c1 = (
        comp.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda x: x["m"],
            ).alias("cq"),
            F.first("cnt").alias("n_members"),
        )
        .withColumn("cn2", norm2(F.col("cq")))
    )
    return c1.select("cid", "cq", "cn2", "n_members")


def kmeans_train(v: DataFrame, n_seeds: int = 8, n_iter: int = 1) -> DataFrame:
    """n_iter Lloyd steps from deterministic seeds, run by
    operators/loop.py's `iterate`: each round lazily truncates the
    k-row centroid table's lineage, so the plan does not grow with
    n_iter; the corpus is only ever traversed by the per-round
    assign + mean jobs."""
    c0 = seed_centroids(v, n_seeds)
    return iterate("kmeans_train", c0, lambda c: kmeans_step(v, c), n_iter)


def ivf_refined_centroids(v: DataFrame, n_seeds: int = 8) -> DataFrame:
    """Seeds + one Lloyd step — the IVF index's coarse quantizer
    (see kmeans_step for the distributed shape)."""
    c0 = seed_centroids(v, n_seeds)
    return kmeans_step(v, c0)


def ivf_assign(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (small) centroid
    table, score ||c||² − 2·v·c per (vector, centroid) — exact int64
    — and keep the argmin via min(struct(score, cid)). One map-side
    broadcast join + one groupBy on vec_id."""
    scored = v.crossJoin(
        F.broadcast(centroids.select("cid", "cq", "cn2"))
    ).select(
        "vec_id",
        "cid",
        (F.col("cn2") - 2 * dot_ll(F.col("q"), F.col("cq"))).alias("score"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("score", "cid")).alias("best"))
        .select("vec_id", F.col("best.cid").alias("cid"))
    )


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 7,
    n_seeds: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """IVF ANN: probe the `n_probe` nearest refined centroids, rank
    candidates in those inverted lists by exact cosine. With the
    corpus written partitioned by cid, a query reads n_probe
    partitions — the classic IVF-flat index as pure DataFrame
    algebra (train = ivf_refined_centroids, index = ivf_assign,
    search = this)."""
    v = embeddings_quantized(emb)
    c1 = ivf_refined_centroids(v, n_seeds=n_seeds)
    assign = ivf_assign(v, c1)
    qrow = v.where(F.col("vec_id") == query_vec_id).select(
        F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    probe = (
        c1.crossJoin(F.broadcast(qrow))
        .select(
            "cid",
            (F.col("cn2") - 2 * dot_ll(F.col("qq"), F.col("cq"))).alias("score"),
        )
        .orderBy("score", "cid")
        .limit(n_probe)
        .select("cid")
    )
    cands = (
        v.join(assign, "vec_id")
        .join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != query_vec_id)
    )
    return (
        cands.crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            cosine(F.col("q"), F.col("qq"), F.col("n2"), F.col("qn2")).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def _broadcastable(df: DataFrame) -> bool:
    """True when Catalyst would elect a broadcast for `df` as a join
    build side: optimizer size estimate within a positive
    autoBroadcastJoinThreshold. Uses the same plan statistics the
    planner consults (py4j into queryExecution().optimizedPlan()); the
    stats call is plan-side only and triggers no job. Falls back to
    True — i.e. the prior scan-parallelism-only gate, with its known
    wide-cluster/few-splits residual edge — if the internal API ever
    moves, so a Spark upgrade degrades to round-6 behavior instead of
    disabling the small-corpus parallelism fix — and WARNS once so
    the degradation is observable (advisor r07). The size condition
    mirrors the planner's canBroadcastBySize (sizeInBytes >= 0): a
    zero-stats relation is broadcastable, not excluded."""
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        thr = int(
            df.sparkSession._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold()
        )
        return 0 < thr and 0 <= size <= thr
    except Exception:
        global _BROADCASTABLE_FALLBACK_WARNED
        if not _BROADCASTABLE_FALLBACK_WARNED:
            _BROADCASTABLE_FALLBACK_WARNED = True
            import warnings

            warnings.warn(
                "similarity._broadcastable: plan-stats internal API "
                "unavailable (Spark upgrade?) — falling back to the "
                "scan-parallelism-only repartition gate",
                RuntimeWarning,
                stacklevel=2,
            )
        return True


_BROADCASTABLE_FALLBACK_WARNED = False


def lsh_near_pairs(
    emb: DataFrame, threshold: float = 0.45, planes: list[list[int]] | None = None
) -> DataFrame:
    """Scale path for near-pair mining: only pairs sharing an LSH
    bucket are scored (equi-join on bucket). Recall < 1 by design;
    used at 100 TB where the exact product is impossible."""
    planes = planes or hyperplanes()
    v = embeddings_quantized(emb).withColumn("bucket", lsh_bucket(F.col("q"), planes))
    # Spread the PROBE side round-robin — but ONLY when the scan is
    # under-parallel: with the build side broadcast (any corpus below
    # the auto-broadcast threshold, and every local-testdata run — one
    # parquet file = 1-2 input splits), probe parallelism equals input
    # splits, so bucket scoring ran on ~2 cores (sf1.0 smoke
    # measurement: 31 s with 30 cores idle). Round-robin rather than
    # by bucket: each task probes the full broadcast map, so hot
    # buckets (near-dup cliques) spread across tasks instead of
    # landing on one. The gate matters at corpus scale: there the
    # build side exceeds the broadcast threshold, Catalyst shuffles
    # BOTH sides on bucket (AQE splits the skewed ones), and an
    # unconditional round-robin repartition cannot satisfy that
    # join's hash requirement — it would stack a second full shuffle
    # of the probe table on top (round-6 review finding). So the gate
    # is TWO-part (advisor r06): the scan must be under-parallel AND
    # the build side must actually be broadcastable — a wide cluster
    # reading a few-split corpus that exceeds the broadcast threshold
    # gets its parallelism from the join's own hash exchange, and the
    # round-robin would only stack a second probe-table shuffle on
    # top of it.
    sc = emb.sparkSession.sparkContext
    a = v.select(F.col("vec_id").alias("id_a"), F.col("bucket"), F.col("q").alias("qa"), F.col("n2").alias("na"))
    if v.rdd.getNumPartitions() < sc.defaultParallelism and _broadcastable(v):
        a = a.repartition(sc.defaultParallelism)
    b = v.select(F.col("vec_id").alias("id_b"), F.col("bucket"), F.col("q").alias("qb"), F.col("n2").alias("nb"))
    pairs = a.join(b, ["bucket"]).where(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        cosine(F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")).alias("cos"),
    ).where(F.col("cos") >= threshold)
