"""Similarity search operators.

Reference surface: ONE operator — top-k cosine k-NN over the chunk table
(reference ask.py:188-203, k=5, distances discarded, no metadata filter).
Spark-first re-expression (SURVEY §2.5 Q1):

* exact single-query top-k: score each row with one interpreted HOF fold
  (the dot product; ``functions.vector.cosine_to_query`` folds the query
  norm on the driver, and a session cache can supply the row norm — see
  that function for why a literal-query dot stays on the fold), then
  ``orderBy(desc).limit(k)`` — Catalyst plans TakeOrderedAndProject, a true
  distributed top-k: each partition keeps a k-heap, the driver merges k*P
  rows.  No global sort, no shuffle of the full table.  At 100 TB this scan
  is embarrassingly parallel and the result transfer is O(k).  This is the
  path that serves the Q&A REPL (tools/ask.make_query_fn): one job per
  question, with the chunk text carried through the heaps.
* batch top-k per query: broadcast the (small) query set, crossJoin, then
  Window.partitionBy(query).orderBy(desc(score)) + row_number <= k.  The
  only shuffle is on query_id — bounded by #queries, not table size.  For
  real multi-query batches (the registry's recall probes), not one
  interactive question.
* similarity self-join: blocked (equi-key prefilter) so Catalyst plans a
  shuffled hash/sort-merge join on the block key instead of a cartesian
  product; the exact-threshold filter runs inside the join stage.
* IVF approximate k-NN: coarse-quantize every vector to its nearest
  centroid once (write-time in a real deployment), probe only the nearest
  ``nprobe`` centroid partitions at query time — the classic
  inverted-file ANN layout, expressed relationally so it scales as a
  partition-pruned scan.

Ties are always broken by vec_id so results are deterministic and
oracle-comparable.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from log_vector_spark.functions.vector import (
    cosine_similarity,
    cosine_to_query,
    dot_product,
    l2_normalize,
    literal_vector,
)

SCORE_DP = 6  # rounding at the query boundary (SURVEY §7.3 float discipline)


def score_against(
    df: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    norm_col: str | None = None,
) -> DataFrame:
    """Attach a cosine `score` column against a constant query vector.

    ``norm_col`` names a column holding ``l2_norm(vec_col)`` (e.g. the one
    ``sources.store.CachedChunks`` caches); without it the row norm is
    folded per row.  The score is the same double either way."""
    norm = F.col(norm_col) if norm_col else None
    return df.withColumn(
        "score", F.round(cosine_to_query(F.col(vec_col), query_vec, norm), SCORE_DP)
    )


def knn_topk(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: Sequence[str] = (),
    norm_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine k-NN for one query vector (reference ask.py:200-203).

    Returns (id, *carry, score) ordered best-first.  The plan is a single
    scan + one score projection + TakeOrderedAndProject — O(k) driver
    data.  ``carry`` names payload columns (e.g. a chunk's text) that ride
    through the per-partition heaps, so a caller that needs them for the k
    winners does not join back to the table.  ``norm_col`` is passed to
    :func:`score_against`: with a cached row norm the only per-row fold
    is the dot product.
    """
    scored = score_against(vectors, query_vec, vec_col, norm_col)
    return (
        scored.select(id_col, *carry, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def knn_matryoshka_rerank(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    prefix_dim: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ADAPTIVE retrieval over matryoshka embeddings (Kusupati
    et al., public): shortlist by the cheap PREFIX-dim cosine, exact
    full-dim re-rank inside the shortlist only.

    Stage 1 scores every vector on its first ``prefix_dim`` dims —
    prefix_dim/dim of the dot work, and at 100 TB the prefix is its own
    narrow stored column (ReadSchema prunes the full vector out of the
    scan entirely); the shortlist is a TakeOrderedAndProject (per-
    partition heaps, O(shortlist) driver rows, no global sort).  Stage 2
    runs the full-dim cosine on ``shortlist`` rows — constant work.
    The recall/cost trade of the rung is measured by
    matryoshka_recall_curve; zero-norm prefixes are excluded (a prefix
    that carries no mass cannot rank).

    The prefix norm is folded once per row and feeds both the exclusion
    and the cosine.  The exclusion is a NULL score, dropped after the
    top-``shortlist`` (nulls sort last, so the kept rows are the same): a
    filter on the norm column would be pushed below its projection, which
    re-folds the norm inside the filter.
    """
    from log_vector_spark.functions.vector import l2_norm

    pfx = F.slice(F.col(vec_col), 1, prefix_dim)
    pfx_norm = F.col("_pfx_norm")
    short = (
        vectors.withColumn("_pfx_norm", l2_norm(pfx))
        .withColumn(
            "s_pfx",
            F.when(
                pfx_norm > 0,
                F.round(
                    cosine_to_query(pfx, query_vec[:prefix_dim], vec_norm=pfx_norm), SCORE_DP
                ),
            ),
        )
        .orderBy(F.desc_nulls_last("s_pfx"), F.asc(id_col))
        .limit(shortlist)
        .filter(F.col("s_pfx").isNotNull())
    )
    return (
        short.select(
            id_col,
            F.round(cosine_to_query(F.col(vec_col), query_vec), SCORE_DP).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def knn_radius(
    vectors: DataFrame,
    query_vec: Sequence[float],
    min_score: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range search (FAISS ``range_search`` semantics, cosine form): ALL
    vectors whose similarity to the query is at or above ``min_score``,
    best-first — the radius-bounded sibling of :func:`knn_topk` for
    callers that need "everything this close", not "the closest k"
    (duplicate sweeps, recall-safe shortlists, epsilon-neighborhoods).

    Scale: identical plan shape to knn_topk minus the top-k — one parquet
    scan, the score projection, and a FILTER that admits only the
    radius hits, so the result (not the corpus) is what crosses to the
    caller.  The ordering sort runs on the filtered relation only.  No
    shuffle of the corpus, no driver collect.
    """
    scored = score_against(vectors, query_vec, vec_col)
    return (
        scored.select(id_col, "score")
        .where(F.col("score") >= min_score)
        .orderBy(F.desc("score"), F.asc(id_col))
    )


def knn_batch_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "query_vec",
) -> DataFrame:
    """Top-k per query for a *set* of query vectors.

    ``broadcast(queries)`` makes the crossJoin a broadcast nested-loop with
    zero shuffle of the big side.  Top-k runs in TWO window phases: first
    within (query_id, salt) — parallelism #queries x #salts, each partition
    keeping only k rows — then the final window merges #salts x k survivors
    per query.  A single window on query_id alone would funnel the entire
    scored table into #queries tasks (with 5 queries, 5 tasks no matter the
    cluster size) and shuffle every scored row; the two-phase form shuffles
    the full set once across many keys and then only k x #salts rows per
    query.  Results are identical: the global top-k is contained in the
    union of per-salt top-ks, and the (score desc, id asc) order makes
    ranks deterministic.
    """
    n_salts = 64
    pairs = vectors.crossJoin(F.broadcast(queries))
    scored = pairs.withColumn(
        "score", F.round(cosine_similarity(F.col(vec_col), F.col(query_col)), SCORE_DP)
    ).withColumn("_salt", F.pmod(F.hash(F.col(vec_id)), F.lit(n_salts)).cast("int"))
    w1 = Window.partitionBy(query_id, "_salt").orderBy(F.desc("score"), F.asc(vec_id))
    survivors = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(vec_id))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, F.col(vec_id), "score", "rank")
    )


def triplet_mining(
    vectors: DataFrame,
    n_anchors: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative TRIPLET mining for embedding-model training (the
    public contrastive-learning recipe — SBERT/SimCLR-style hard
    negatives): for each anchor, the highest-cosine SAME-label vector is
    the positive and the highest-cosine DIFFERENT-label vector is the
    hard negative; the margin (pos - neg) is the triplet's difficulty —
    small or negative margins are the training signal.

    Anchors are the deterministic lowest-id slice (swap in any sampled
    anchor set).  Same two-phase salted top-1 as knn_batch_topk: phase 1
    ranks within (anchor, class-side, salt) — parallelism #anchors x 2 x
    #salts — phase 2 merges #salts survivors per (anchor, side).  The
    corpus side never shuffles (broadcast anchors), and only 2 x #salts
    rows per anchor cross the second shuffle.  At 100 TB swap the scoring
    stage for the IVF-probed shortlist (knn_ivf) — the window machinery
    is unchanged.
    """
    anchors = vectors.filter(F.col(id_col) < n_anchors).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("anchor_vec"),
        F.col(label_col).alias("anchor_label"),
    )
    n_salts = 64
    scored = (
        vectors.crossJoin(F.broadcast(anchors))
        .filter(F.col(id_col) != F.col("anchor_id"))
        .withColumn(
            "score",
            F.round(cosine_similarity(F.col(vec_col), F.col("anchor_vec")), SCORE_DP),
        )
        .withColumn(
            "side",
            F.when(F.col(label_col) == F.col("anchor_label"), F.lit("pos")).otherwise(
                F.lit("neg")
            ),
        )
        .withColumn("_salt", F.pmod(F.hash(F.col(id_col)), F.lit(n_salts)).cast("int"))
    )
    w1 = Window.partitionBy("anchor_id", "side", "_salt").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    survivors = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") == 1)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy("anchor_id", "side").orderBy(F.desc("score"), F.asc(id_col))
    best = (
        survivors.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") == 1)
        .select("anchor_id", "side", F.col(id_col).alias("best_id"), "score")
    )
    pos = best.filter(F.col("side") == "pos").select(
        "anchor_id",
        F.col("best_id").alias("pos_id"),
        F.col("score").alias("pos_score"),
    )
    neg = best.filter(F.col("side") == "neg").select(
        "anchor_id",
        F.col("best_id").alias("neg_id"),
        F.col("score").alias("neg_score"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "pos_score",
        "neg_id",
        "neg_score",
        F.round(F.col("pos_score") - F.col("neg_score"), 6).alias("margin"),
    )


SALT_FACTOR = 8


def blocked_pairs(
    vectors: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    n_salts: int = SALT_FACTOR,
) -> DataFrame:
    """All within-block pairs (id_a < id_b) via a SALTED equi-join.

    A bare join on the block key caps parallelism at #distinct blocks (and
    AQE's size-based coalescing can squeeze the tiny-by-bytes but
    CPU-quadratic pair work onto ONE task — measured 180s single-core vs 4s
    salted).  Salting: side A keyed by (block, id % S); side B replicated S
    times.  Every pair appears exactly once (its salt is determined by
    id_a), and the work spreads over #blocks x S tasks.  Replicating one
    side S-fold is the standard, bounded cost of skew-proof blocking.
    The salt hashes the id (pmod(hash(id), S)) so string ids — e.g.
    chunk_id from chunk_documents — salt correctly; pmod on a raw string
    id would cast to NULL and silently produce an EMPTY pair set.
    """
    # normalize ONCE per vector (O(n) folds) so each pair needs a single
    # dot-product fold instead of dot + two norms (O(pairs) x 3 folds) —
    # the write-time normalization of SURVEY §4.3.1 applied inline.
    # HOF (fold) forms here, NOT the unrolled expressions: measured at
    # sf0.1, the unrolled dot/normalize are 2-3x SLOWER inside shuffle-join
    # stages (the generated method exceeds HotSpot's JIT size limit and the
    # whole join stage drops to the bytecode interpreter), while they are
    # 30x FASTER in broadcast-crossJoin/scan stages.  See ivf_assign for
    # the crossJoin side of that measurement.
    unit = vectors.select(
        F.col(block_col), F.col(id_col), l2_normalize(F.col(vec_col)).alias("_unit")
    )
    a = unit.select(
        F.col(block_col).alias("block"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_salts)).cast("int").alias("salt"),
        F.col(id_col).alias("id_a"),
        F.col("_unit").alias("vec_a"),
    )
    b = unit.select(
        F.col(block_col).alias("block"),
        F.explode(F.array(*[F.lit(s) for s in range(n_salts)])).alias("salt"),
        F.col(id_col).alias("id_b"),
        F.col("_unit").alias("vec_b"),
    )
    return a.join(b, ["block", "salt"]).filter(F.col("id_a") < F.col("id_b")).drop("salt")


def similarity_join(
    vectors: DataFrame,
    threshold: float = 0.8,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (a, b), a.id < b.id, cosine >= threshold, within a block.

    The block key turns the O(n²) cartesian into an equi-join (the same
    blocking idea LSH uses, with an exact in-bucket verify), and the salted
    pair generator keeps the quadratic scoring work parallel.

    DEFAULT BLOCKING IS IVF (block_col=None): blocks are the nearest-centroid
    lists from `ivf_assign` with the sqrt-stride centroid rule, so within-
    block pair volume stays ~N^1.5 at any corpus size.  Passing an explicit
    block_col (e.g. "label") is a SMALL-CORPUS OPT-IN: with fixed block
    cardinality, within-block pairs grow quadratically with the data
    (measured 6.5x runtime for 10x data in SCALE_r03.json) — do not use it
    at cluster scale unless the block key's cardinality grows with N.
    """
    if block_col is None:
        assigned = ivf_assign(
            vectors, make_centroids(vectors, vec_id=id_col, vec_col=vec_col), id_col, vec_col
        ).select(id_col, vec_col, "list_id")
        vectors, block_col = assigned, "list_id"
    pairs = blocked_pairs(vectors, block_col, id_col, vec_col)
    scored = pairs.withColumn(
        "score", F.round(dot_product(F.col("vec_a"), F.col("vec_b")), SCORE_DP)
    )
    return scored.filter(F.col("score") >= threshold).select("block", "id_a", "id_b", "score")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (IVF coarse quantization).

    r12 (guide §4.2/§2.4): a map-side Arrow kernel
    (functions/argmin.ivf_assign_arrow).  The centroid table is collected
    (k rows — the identical payload the previous plan shipped as a
    BroadcastExchange relation) and each Arrow batch computes every
    vector's k cosine scores vectorized in NumPy with the HOF fold's
    exact IEEE sequence, rounds them with Spark's exact round-HALF_UP
    semantics, and emits the argmax row directly — highest score, ties to
    lowest list_id, bit-identical to the old
    crossJoin(broadcast) + fold + min(struct(-score, list_id)) plan
    (pinned in tests/test_argmin_kernel.py).  That removes BOTH costs of
    the old shape: the per-pair interpreted fold (k x dim boxed lambda
    applications per vector) and the per-vector hash-aggregate Exchange —
    the assignment is now a zero-shuffle scan stage whose parallelism is
    the scan's split count (thousands of tasks at 100 TB), and at write
    time the result is persisted partitioned by `list_id` so queries
    prune partitions instead of scanning.

    The centroids are a BUILD-time snapshot: they are collected when this
    function is called, not when the returned DataFrame runs.  A caller
    that keeps the frame and runs it after the centroid store changes
    assigns against the old centroids, so lifecycle paths (retrain,
    maintenance ticks) must call ivf_assign again after each change.
    """
    from log_vector_spark.functions.argmin import ivf_assign_arrow

    cent_rows = [
        (r[0], r[1]) for r in centroids.select("list_id", "centroid").collect()
    ]
    return ivf_assign_arrow(
        vectors,
        cent_rows,
        centroids.schema["list_id"].dataType,
        vec_id,
        vec_col,
    )


def knn_ivf(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the `nprobe` centroid lists nearest to
    the query, exact-score inside them.  At scale the assignment is
    precomputed and partition-pruned; here it is computed inline."""
    probed = (
        centroids.withColumn(
            "qscore", F.round(cosine_to_query(F.col("centroid"), query_vec), SCORE_DP)
        )
        .orderBy(F.desc("qscore"), F.asc("list_id"))
        .limit(nprobe)
        .select("list_id")
    )
    assigned = ivf_assign(vectors, centroids, vec_id, vec_col)
    candidates = assigned.join(F.broadcast(probed), "list_id")
    scored = score_against(candidates, query_vec, vec_col)
    return scored.select(vec_id, "score").orderBy(F.desc("score"), F.asc(vec_id)).limit(k)


def sqrt_stride(n: int, floor_: int = 16) -> int:
    """IVF stride for cost-balanced N^1.5 total work: ~sqrt(N)/4.

    A FIXED stride makes centroid count grow linearly with the data, which
    turns the broadcast argmin assignment into the quadratic term —
    measured in the one-decade replica experiment (SCALE_r03.json):
    dedup_embedding_ivf ran at 10.6x for 10x data with stride 37 (N x N/37
    assignment dots) while every scan/join op ran 1-3x.

    The constant matters as much as the exponent.  Total cost is
    a·N·(N/s) + p·N·s (assignment dots + within-list pair dots), minimized
    at s* = sqrt(N·a/p).  The two are NOT equal-cost units: solving the
    measured sf1-replica pair (stride 37 -> 20.7 s, stride 141 -> 38.7 s,
    N = 20k) gives p/a ~ 13 — a pair unit is an interpreted HOF dot inside
    a shuffle join plus the shuffle of both 64-float arrays, an assignment
    unit is one dot in a codegen'd broadcast stage (BASELINE.md lesson 7).
    Hence s* ~ sqrt(N)/4, which also lands on the old fixed 37 at N = 20k
    — correct there by accident, quadratic beyond it.
    """
    import math

    return max(floor_, int(math.floor(math.sqrt(n) / 4 + 0.5)))


def make_centroids(
    vectors: DataFrame,
    every: int | None = None,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid pick: every `every`-th vector (cosine scoring is
    scale-invariant, so no normalization needed).  Default stride is the
    sqrt(N) rule (`sqrt_stride` — one count() scan to size it); pass a
    fixed `every` for reproducible fixtures.

    (A real deployment would run k-means; a deterministic stride keeps the
    operator reproducible for the oracle while exercising the identical
    plan shape.)
    """
    if every is None:
        from log_vector_spark.catalog import cached_count

        every = sqrt_stride(cached_count(vectors))
    return vectors.filter(F.col(vec_id) % every == 0).select(
        F.col(vec_id).alias("list_id"),
        F.col(vec_col).alias("centroid"),
    )


def make_centroids_kmeans(
    vectors: DataFrame,
    every: int | None = None,
    iters: int = 2,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_cap: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """K-means-refined IVF centroids (opt-in upgrade over the stride pick).

    Seeds are the SAME stride-sampled vectors make_centroids picks (cid =
    seed vec_id, so ties and list ids stay comparable), then `iters`
    deterministic Lloyd rounds of cluster.py's assign/update: rounded-6dp
    L2 argmin with lowest-cid ties, decimal-exact per-dim means — the
    kmeans_clusters idiom, so the refined centroid table is bit-replayable
    by an unrolled SQL oracle.  Empty clusters drop (fewer, denser lists).

    This is the offline re-train step a real IVF deployment runs when
    recall degrades (FAISS trains its coarse quantizer the same way); cost
    is iters extra assignment passes (~N·k dots, the same N^1.5 envelope
    as one IVF build) + a linear (cid, dim)-keyed mean shuffle per round —
    write-time work, amortized over every query.  Centroids are MEANS, not
    corpus vectors, so use make_centroids where seeds must be real nodes
    (the graph entry points).

    ``train_cap`` bounds the Lloyd TRAINING set (FAISS posture: a coarse
    quantizer is trained on at most ~256·k sampled vectors — only the
    final assignment pass is inherently full-scan).  When N > train_cap
    the Lloyd rounds run over a deterministic stride sample (vec_id %
    ceil(N / cap) == 0, the same dense-id idiom the seed pick uses) and
    the sample is eagerly checkpointed once so each round re-reads the
    bounded sample, never the corpus.  With k ≈ 4·sqrt(N) the 256·k cap
    binds only above ~1M vectors, so the sf0.01/sf0.1 oracles replay the
    unsampled rounds bit-exactly; the sampled path's exactness property
    (assignment is exact GIVEN centroids) is pinned in
    tests/test_ivf_retrain.py with a tiny forced cap.

    ``n`` is the row count of ``vectors`` when the caller already has it;
    otherwise it is counted here (once per input, ``cached_count``).
    """
    import numpy as np

    from log_vector_spark.functions.argmin import assign_l2_arrow, centroid_frame
    from log_vector_spark.operators.cluster import _update

    if n is None and (every is None or train_cap is not None):
        from log_vector_spark.catalog import cached_count

        n = cached_count(vectors)
    if every is None:
        every = sqrt_stride(n)
    spark = vectors.sparkSession
    v = vectors.select(
        F.col(vec_id), F.transform(vec_col, lambda x: x.cast("double")).alias("e")
    )
    cid_type = v.schema[vec_id].dataType
    seeds = v.filter(F.col(vec_id) % every == 0).collect()
    if not seeds:
        return centroid_frame(spark, [], [], cid_type)
    cids = [r[0] for r in seeds]
    C = np.asarray([r["e"] for r in seeds], dtype=np.float64)
    train = v
    if train_cap is not None and n > train_cap:
        tstride = -(-n // train_cap)  # ceil: sample size <= train_cap
        train = v.filter(F.col(vec_id) % tstride == 0).localCheckpoint(eager=True)
    # r12 (guide §4.2): each Lloyd round = one map-side Arrow argmin over
    # the (bounded) training set + the distributed decimal-exact update,
    # collected back (k x dim doubles — the payload each old round
    # BROADCAST anyway).  The literal centroids replace the per-round
    # localCheckpoint chain outright: nothing downstream can re-fire the
    # rounds, and the returned quantizer is a LocalTableScan.
    for _ in range(iters):
        cids, C = _update(assign_l2_arrow(train, cids, C, vec_id, cid_type))
    return centroid_frame(spark, cids, C, cid_type)


def normalize_vectors(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Write-time normalization (SURVEY §4.3.1): store unit vectors + norm so
    cosine degenerates to dot product for every later comparison."""
    return vectors.withColumn(
        "norm", F.round(F.sqrt(dot_product(F.col(vec_col), F.col(vec_col))), SCORE_DP)
    ).withColumn("unit", l2_normalize(F.col(vec_col)))


def knn_ivf_batch(
    vectors: DataFrame,
    centroids: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Batch IVF approximate top-k: every query probes its own `nprobe`
    nearest centroid lists; candidates are exact-scored inside.

    The probe table is |queries| x nprobe rows (query id, query vector,
    list id) — bounded by the query batch, so it broadcasts; the candidate
    join then touches only the probed lists of the assigned relation.  At
    scale the assignment is a write-time artifact partitioned by list_id
    and this becomes a partition-pruned scan per query batch, shuffling
    nothing data-scaled (the rank window partitions by query_id — full
    parallelism across the batch).
    """
    assigned = ivf_assign(vectors, centroids, vec_id, vec_col)
    return knn_ivf_batch_assigned(
        assigned, centroids, queries_df, k, nprobe, vec_id, vec_col,
        query_id, query_vec,
    )


def knn_ivf_batch_assigned(
    assigned: DataFrame,
    centroids: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """knn_ivf_batch over a PRE-ASSIGNED relation (vec, list_id) — the
    stored-index form: the assignment is a write-time artifact (e.g. the
    list_id-partitioned IVF store), so query time is probe + pruned scan
    only.  Same probe rule, scoring, and ties as knn_ivf_batch, which
    delegates here."""
    probed = queries_df.crossJoin(F.broadcast(centroids)).withColumn(
        "qscore",
        F.round(cosine_similarity(F.col(query_vec), F.col("centroid")), SCORE_DP),
    )
    w_probe = Window.partitionBy(query_id).orderBy(F.desc("qscore"), F.asc("list_id"))
    probe_lists = (
        probed.withColumn("pr", F.row_number().over(w_probe))
        .filter(F.col("pr") <= nprobe)
        .select(query_id, query_vec, "list_id")
    )
    cand = assigned.join(F.broadcast(probe_lists), "list_id")
    scored = cand.withColumn(
        "score", F.round(cosine_similarity(F.col(vec_col), F.col(query_vec)), SCORE_DP)
    )
    w_rank = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(vec_id))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, vec_id, "score", "rank")
    )


def knn_graph_edges(
    vectors: DataFrame,
    centroids: DataFrame | None = None,
    deg: int = 8,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed k-NN graph build: (src, dst, escore), each node keeping
    its `deg` best out-neighbors.

    The navigable-graph answer to the reference's HNSW index
    (reference/index.py:434, {"hnsw:space": "cosine"}), built the way a
    cluster can: candidate edges come from the IVF-blocked pair join
    (~N^1.5 candidates, never all-pairs), symmetrized, then pruned to the
    top-`deg` per source by one row_number window over the candidate edge
    list.  At 100 TB the edge list is a write-time artifact (one build
    shuffle, reused by every query), exactly like an HNSW index file —
    Spark's version of "build once, route forever".

    Determinism contract: scores rounded at SCORE_DP, ties broken by dst
    id, so the same corpus always yields the same graph on any partitioning.
    """
    if centroids is None:
        centroids = make_centroids(vectors, vec_id=vec_id, vec_col=vec_col)
    assigned = ivf_assign(vectors, centroids, vec_id, vec_col).select(
        vec_id, vec_col, "list_id"
    )
    return edges_from_assigned(assigned, deg, vec_id, vec_col)


def edges_from_assigned(
    assigned: DataFrame,
    deg: int = 8,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-`deg` out-edges per node from an ALREADY list-assigned frame —
    the shared core of the batch graph build (knn_graph_edges) and the
    incremental streaming maintenance (streaming.pipeline.
    run_stream_graph_ingest), which re-runs it on only the lists a new
    batch touched.  Edges depend only on a list's membership, so the two
    paths converge to the identical graph."""
    pairs = blocked_pairs(assigned, "list_id", vec_id, vec_col)
    scored = pairs.select(
        "id_a",
        "id_b",
        F.round(dot_product(F.col("vec_a"), F.col("vec_b")), SCORE_DP).alias("escore"),
    )
    sym = scored.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "escore"
    ).unionAll(
        scored.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "escore")
    )
    w = Window.partitionBy("src").orderBy(F.desc("escore"), F.asc("dst"))
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= deg)
        .select("src", "dst", "escore")
    )


def score_node_ids(
    vectors: DataFrame,
    ids: DataFrame,
    q: Column,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score ONLY the nodes in `ids` (column `nid`) against the query.

    The bounded id set broadcasts and the cosine is computed ABOVE the
    join — one dot product per MATCHED row, never per corpus row.  This is
    the lazy-scoring primitive of the graph-ANN query path: per beam round
    it evaluates <= beam*deg dots regardless of corpus size.  At 100 TB
    with an id-sorted/bucketed store the broadcast id set additionally
    prunes the scan via min/max + bloom stats; locally it is a broadcast
    hash join probe (pin: tests/test_plans.py asserts the score projection
    sits above the BroadcastHashJoin).
    """
    slim = vectors.select(F.col(vec_id).alias("nid"), F.col(vec_col).alias("__v"))
    return slim.join(F.broadcast(ids.select("nid")), "nid").select(
        "nid",
        F.round(cosine_similarity(F.col("__v"), q), SCORE_DP).alias("score"),
    )


def knn_graph_beam(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    beam: int = 8,
    rounds: int = 3,
    deg: int = 8,
    centroids: DataFrame | None = None,
    edges: DataFrame | None = None,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy beam search over the k-NN graph: the query path of a
    graph-ANN (HNSW-class) index, expressed as `rounds` unrollable
    join+top-beam steps — no driver loop over results, no UDFs.

    Seeds are the stride-sampled centroid NODES (make_centroids keeps the
    source vec_id as list_id, so every centroid is a real graph vertex)
    scored against the query directly from the centroid table — the
    flat-graph stand-in for HNSW's upper layers, whose job is also just
    "start the search near the query".  Each round expands the current
    beam along its out-edges, scores ONLY the new frontier ids against
    the query (a broadcast id join into the vectors table — see
    score_node_ids), and keeps the best `beam` ids seen so far (ties to
    the lower id).  Per-query score-evaluation cost is
    O(seeds + rounds * beam * deg) dots — independent of corpus size,
    which is the entire point of a navigable graph.  Nothing corpus-wide
    is ever scored or materialized at query time; the only corpus-scale
    relations touched are the write-time edge artifact (probed by a
    broadcast of <= beam src ids) and the vectors table (probed by a
    broadcast of the frontier ids).

    The returned plan is deterministic and replayable as an unrolled SQL
    CTE (see the knn_graph query's oracle), because every cut uses the
    (score desc, id asc) total order on rounded scores.
    """
    if centroids is None:
        centroids = make_centroids(vectors, vec_id=vec_id, vec_col=vec_col)
    if edges is None:
        # every beam round joins the edge list: checkpoint so the IVF-blocked
        # graph BUILD runs once, not once per round (measured 4.9 -> 2.2s
        # steady-state at sf0.1).  At scale the edge list is a write-time
        # artifact read from storage, which is exactly what this simulates.
        edges = knn_graph_edges(vectors, centroids, deg, vec_id, vec_col).localCheckpoint(
            eager=True
        )
    q = literal_vector(query_vec)
    # seeds: centroids ARE corpus vectors (list_id = source vec_id), so the
    # seed scores come straight off the bounded centroid table — no corpus
    # touch at all
    beam_df = (
        centroids.select(
            F.col("list_id").alias("nid"),
            F.round(cosine_to_query(F.col("centroid"), query_vec), SCORE_DP).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("nid"))
        .limit(beam)
    )
    # each round re-reads the beam twice (expand + union); localCheckpoint
    # keeps the lineage flat so round r doesn't replay rounds 1..r-1
    # (the dedup_clusters iterative-plan idiom)
    beam_df = beam_df.localCheckpoint(eager=False)
    for _ in range(rounds):
        beam_ids = beam_df.select("nid")
        frontier_ids = (
            edges.join(F.broadcast(beam_df.select(F.col("nid").alias("src"))), "src")
            .select(F.col("dst").alias("nid"))
            .distinct()
            # already-scored beam members need no new dot; also keeps the
            # union below duplicate-free without a distinct shuffle
            .join(F.broadcast(beam_ids), "nid", "left_anti")
        )
        frontier = score_node_ids(vectors, frontier_ids, q, vec_id, vec_col)
        beam_df = (
            beam_df.unionAll(frontier)
            .orderBy(F.desc("score"), F.asc("nid"))
            .limit(beam)
            .localCheckpoint(eager=False)
        )
    return (
        beam_df.orderBy(F.desc("score"), F.asc("nid"))
        .limit(k)
        .select(F.col("nid").alias(vec_id), "score")
    )


# DCG position weights 1/log2(r+1) and reciprocal ranks 1/r for k=10,
# computed ONCE driver-side and injected as the SAME double literals into
# the Spark plan and the DuckDB oracle — log2 ULP behavior can differ
# between engines, identical literals cannot
DCG_W10 = [1.0 / math.log2(r + 1) for r in range(1, 11)]
INV_R10 = [1.0 / r for r in range(1, 11)]
IDCG10 = float(sum((11 - r) * DCG_W10[r - 1] for r in range(1, 11)))


def ranking_eval(
    exact: DataFrame,
    approx: DataFrame,
    base: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    vec_id: str = "vec_id",
) -> DataFrame:
    """Ranking-quality metrics of an approximate retriever against exact
    ground truth, per query: recall@k, MRR of the exact top-1, nDCG@k with
    graded relevance rel = (k+1) - exact_rank.

    `exact` carries (query_id, vec_id, erank), `approx` (query_id, vec_id,
    arank), `base` the query ids (queries with zero hits still get a row:
    recall/mrr/ndcg = 0).  One bounded join (<= k rows per query) and one
    groupBy — nothing corpus-scaled; per-hit DCG terms are rounded then
    summed as DECIMAL so the fold order can never move the 6dp result.
    """
    if k != 10:  # literals are k=10; generalize by recomputing
        w = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
        inv = [1.0 / r for r in range(1, k + 1)]
        idcg = float(sum((k + 1 - r) * w[r - 1] for r in range(1, k + 1)))
    else:
        w, inv, idcg = DCG_W10, INV_R10, IDCG10
    w_lit = F.array(*[F.lit(x) for x in w])
    inv_lit = F.array(*[F.lit(x) for x in inv])
    hits = exact.join(approx, [query_id, vec_id]).select(
        query_id,
        (k + 1 - F.col("erank")).alias("rel"),
        "erank",
        F.col("arank").cast("int").alias("arank"),  # element_at needs INT
    )
    per_q = hits.groupBy(query_id).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.sum(
            F.round(F.col("rel") * F.element_at(w_lit, F.col("arank")), 9).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("dcg"),
        F.max(
            F.when(F.col("erank") == 1, F.element_at(inv_lit, F.col("arank")))
        ).alias("mrr_raw"),
    )
    return base.join(per_q, query_id, "left").select(
        query_id,
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / float(k), 6).alias("recall"),
        F.round(F.coalesce("mrr_raw", F.lit(0.0)), 6).alias("mrr"),
        F.round(F.coalesce("dcg", F.lit(0.0)) / F.lit(idcg), 6).alias("ndcg"),
    )


def bitext_margin_pairs(
    vectors: DataFrame,
    langs: DataFrame,
    lang_x: str = "en",
    lang_y: str = "de",
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salts: int = SALT_FACTOR,
    lang_id_col: str = "doc_id",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2018, public): mine
    aligned cross-lingual document pairs from two languages' embeddings —
    the parallel-corpus construction step (LASER/CCMatrix recipe) a
    multilingual pretraining pipeline runs over a crawled corpus.

    score(x, y) = cos(x, y) / ((avg_topk(x) + avg_topk(y)) / 2): the RATIO
    margin normalizes away hubness (a vector that is close to everything
    scores high raw cosine against everything; dividing by its own top-k
    average cancels that), and a pair is emitted only when it is the
    MUTUAL best by margin in both directions with margin >= threshold.

    Candidate generation is IVF-blocked (the similarity_join discipline —
    never all-pairs): both languages' vectors assign to the same
    sqrt-stride centroid lists and only within-list cross-lingual pairs
    are scored, so the top-k averages are ANN-shortlist averages — exactly
    how production margin mining computes them (FAISS shortlists).  The
    cross-lingual join is salted like blocked_pairs (skew-proof).  Top-k
    averages are decimal-exact sums of 6dp cosines (fold-order-proof);
    margins round at the boundary, ties break on the partner id.
    """
    from pyspark.sql import Window

    assigned = ivf_assign(
        vectors, make_centroids(vectors, vec_id=id_col, vec_col=vec_col), id_col, vec_col
    ).select(id_col, vec_col, "list_id")
    # langs is keyed by lang_id_col (default "doc_id" — the documents-table
    # shape); ADVICE r6: the key column used to be hardcoded, breaking any
    # caller whose langs relation is keyed differently than its vectors.
    withlang = assigned.join(
        langs.select(F.col(lang_id_col).alias(id_col), "lang"), id_col
    )
    # unit feeds BOTH language branches, and cand (built from it) feeds
    # THREE consumers (the pair base + the two top-k average aggregates):
    # without this lazy checkpoint the IVF-assignment chain re-executes
    # ~6x (measured 73.7s vs 12.6s for one assignment pass at the 10x
    # replica — the banded-frame idiom from substring_dup_spans).  The
    # checkpoint sits on UNIT, not cand: cand's recomputes over the
    # materialized unit are cheap (bounded within-list pair volume), and
    # checkpointing the join plan itself measured 40s of DRIVER-side
    # planning at the replica scale.
    unit = withlang.select(
        "list_id", "lang", F.col(id_col), l2_normalize(F.col(vec_col)).alias("_unit")
    ).localCheckpoint(eager=False)
    x = unit.filter(F.col("lang") == lang_x).select(
        "list_id",
        F.pmod(F.hash(F.col(id_col)), F.lit(n_salts)).cast("int").alias("salt"),
        F.col(id_col).alias("id_x"),
        F.col("_unit").alias("ux"),
    )
    y = unit.filter(F.col("lang") == lang_y).select(
        "list_id",
        F.explode(F.array(*[F.lit(s) for s in range(n_salts)])).alias("salt"),
        F.col(id_col).alias("id_y"),
        F.col("_unit").alias("uy"),
    )
    cand = (
        x.join(y, ["list_id", "salt"])
        .select(
            "id_x",
            "id_y",
            F.round(dot_product(F.col("ux"), F.col("uy")), SCORE_DP).alias("c"),
        )
    )
    wx = Window.partitionBy("id_x").orderBy(F.desc("c"), F.asc("id_y"))
    wy = Window.partitionBy("id_y").orderBy(F.desc("c"), F.asc("id_x"))
    ax = (
        cand.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= k)
        .groupBy("id_x")
        .agg(
            F.round(
                F.sum(F.col("c").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                SCORE_DP,
            ).alias("ax")
        )
    )
    ay = (
        cand.withColumn("rn", F.row_number().over(wy))
        .filter(F.col("rn") <= k)
        .groupBy("id_y")
        .agg(
            F.round(
                F.sum(F.col("c").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                SCORE_DP,
            ).alias("ay")
        )
    )
    m = (
        cand.join(ax, "id_x")
        .join(ay, "id_y")
        .withColumn(
            "margin",
            F.when(
                (F.col("ax") + F.col("ay")) != 0,
                F.round(F.col("c") / ((F.col("ax") + F.col("ay")) / 2), SCORE_DP),
            ),
        )
        .filter(F.col("margin").isNotNull())
    )
    wbx = Window.partitionBy("id_x").orderBy(F.desc("margin"), F.asc("id_y"))
    wby = Window.partitionBy("id_y").orderBy(F.desc("margin"), F.asc("id_x"))
    return (
        m.withColumn("bx", F.row_number().over(wbx))
        .withColumn("by", F.row_number().over(wby))
        .filter((F.col("bx") == 1) & (F.col("by") == 1) & (F.col("margin") >= threshold))
        .select("id_x", "id_y", F.col("c").alias("cos_xy"), "margin")
    )
