"""Product quantization (PQ) for approximate nearest-neighbor search.

The third ANN index family next to IVF (search.ivf_assign) and the k-NN
graph (search.knn_graph_edges): split each d-dim vector into `m` subvectors,
quantize every subvector to one of `k` codes per subspace, and answer
queries by Asymmetric Distance Computation (ADC) — precompute the query's
dot product with every code center (an m x k lookup table) and score a
vector as the SUM of m table lookups.

Why this matters at 100 TB: the encoded corpus is m bytes per vector
(m=8, k=16 -> 8 codes of 4 bits) instead of d*4 floats — a 32x memory
reduction that is the difference between an in-memory index and none —
and query-time scoring does ZERO float multiplies per vector: the only
data-scaled work is a broadcast-join on (subspace, code) against a
128-row lookup table plus one sum aggregation.  Encoding is write-time
work (like ivf_assign and the graph edge list), amortized over every
query.

Determinism contract (oracle-replayable):
* codebook = the `k` lowest-id stride-sampled vectors' subvectors, so the
  same corpus always yields the same codebook (a real deployment would run
  k-means per subspace; the stride pick keeps the identical plan shape —
  same tradeoff as search.make_centroids);
* code assignment = argmin squared-L2 rounded at SCORE_DP, ties to the
  lower code id (the ivf_assign min(struct) idiom: hash-agg, shuffle is
  one row per (vector, subspace), never the k-scored candidates);
* ADC partial scores rounded at SCORE_DP and summed as DECIMAL(18,6) —
  float sums are partitioning-order-dependent, decimal sums are
  associative, so the identical score lands bit-exact at any parallelism
  (the doc_pagerank fixed-point rule applied to doubles).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from log_vector_spark.functions.vector import dot_product, literal_vector
from log_vector_spark.operators.search import SCORE_DP, sqrt_stride

PQ_M = 8  # subspaces
PQ_K = 16  # codes per subspace (4-bit codes)


def _sq_l2(a, b, dim: int | None = None):
    # squared L2; with `dim` (the subspace width, always known here) the
    # sum unrolls into whole-stage codegen — the encode argmin is the PQ
    # hot loop (corpus x m x k scored rows), and the unrolled form is
    # bit-identical to the HOF fold (functions.vector.squared_l2 contract:
    # terms in the input element type, accumulation in double)
    from log_vector_spark.functions.vector import squared_l2

    return squared_l2(a, b, dim)


def pq_codebook(
    vectors: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(subspace, code_id, center): k deterministic code centers per
    subspace, taken from the k lowest-id stride-sampled vectors."""
    from log_vector_spark.catalog import cached_count

    every = sqrt_stride(cached_count(vectors))
    sub = dim // m
    seeds = (
        vectors.filter(F.col(vec_id) % every == 0)
        .orderBy(F.asc(vec_id))
        .limit(k)
        .select(
            F.col(vec_id),
            F.row_number().over(Window.orderBy(F.asc(vec_id))).cast("int").alias("code_id"),
            F.col(vec_col),
        )
    )
    subspaces = F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("subspace")
    return seeds.select("code_id", F.col(vec_col), subspaces).select(
        F.col("subspace").cast("int").alias("subspace"),
        "code_id",
        F.slice(F.col(vec_col), F.col("subspace") * sub + 1, sub).alias("center"),
    )


def pq_codebook_kmeans(
    vectors: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 2,
) -> DataFrame:
    """K-means-refined PQ codebook (opt-in upgrade over the stride pick —
    per-subspace Lloyd, how FAISS actually trains ProductQuantizer).

    Seeds are the SAME k stride-sampled vectors' subvectors pq_codebook
    picks, then `iters` deterministic Lloyd rounds independently in each
    of the m subspaces: rounded-6dp squared-L2 argmin with lowest-code
    ties (the cluster.py struct-min idiom — the shuffle carries one row
    per (vector, subspace), never the k candidates), decimal-exact per-dim
    means rounded to 6dp.  All arithmetic is promoted to double up front
    so the refined centers replay bit-exactly in an unrolled SQL oracle.

    Scale: each round is one broadcast of the m*k codebook, one scan-stage
    distance projection, and one linear (subspace, code, dim)-keyed mean
    shuffle — write-time work inside the same envelope as one extra
    encode pass per round.  Empty codes drop (fewer, denser cells).
    """
    from log_vector_spark.catalog import cached_count

    sub = dim // m
    every = sqrt_stride(cached_count(vectors))
    dbl = vectors.select(
        F.col(vec_id), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_e")
    )
    subspaces = F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("subspace")
    parts = dbl.select(F.col(vec_id), subspaces, "_e").select(
        vec_id,
        F.col("subspace").cast("int").alias("subspace"),
        F.slice(F.col("_e"), F.col("subspace") * sub + 1, sub).alias("subvec"),
    )
    seeds = (
        dbl.filter(F.col(vec_id) % every == 0)
        .orderBy(F.asc(vec_id))
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy(F.asc(vec_id))).cast("int").alias("code_id"),
            "_e",
        )
    )
    cb = seeds.select("code_id", "_e", subspaces).select(
        F.col("subspace").cast("int").alias("subspace"),
        "code_id",
        F.slice(F.col("_e"), F.col("subspace") * sub + 1, sub).alias("center"),
    )
    for _ in range(iters):
        scored = parts.join(F.broadcast(cb), "subspace").withColumn(
            "dist", F.round(_sq_l2(F.col("subvec"), F.col("center"), sub), SCORE_DP)
        )
        best = scored.groupBy(vec_id, "subspace").agg(
            F.min(F.struct(F.col("dist"), F.col("code_id"), F.col("subvec"))).alias("_b")
        )
        asg = best.select(
            "subspace",
            F.col("_b.code_id").alias("code_id"),
            F.col("_b.subvec").alias("subvec"),
        )
        dims = asg.select("subspace", "code_id", F.posexplode("subvec").alias("d", "x"))
        cb = (
            dims.groupBy("subspace", "code_id", "d")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(28,20)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("xm")
            )
            .groupBy("subspace", "code_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "xm"))),
                    lambda s: s.getField("xm"),
                ).alias("center")
            )
        )
    return cb


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = PQ_M,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(vec_id, subspace, code_id): write-time encoding.  One broadcast of
    the m*k codebook; the shuffle carries one row per (vector, subspace)
    thanks to the min(struct) hash-agg argmin (never the k candidates)."""
    sub = dim // m
    parts = vectors.select(
        F.col(vec_id),
        F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("subspace"),
        F.col(vec_col),
    ).select(
        vec_id,
        "subspace",
        F.slice(F.col(vec_col), F.col("subspace") * sub + 1, sub).alias("subvec"),
    )
    scored = parts.join(F.broadcast(codebook), "subspace").withColumn(
        "dist", F.round(_sq_l2(F.col("subvec"), F.col("center"), sub), SCORE_DP)
    )
    best = scored.groupBy(vec_id, "subspace").agg(
        F.min(F.struct(F.col("dist"), F.col("code_id"))).alias("_b")
    )
    return best.select(vec_id, "subspace", F.col("_b.code_id").alias("code_id"))


def knn_pq(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ADC top-k: (vec_id, score) by approximate dot product.

    The query's dot with every code center is an m x n_codes lookup table
    (128 rows) built once and broadcast; scoring the whole corpus is a
    broadcast join + decimal sum aggregation — zero per-vector float
    multiplies, the PQ promise."""
    sub = dim // m
    codebook = pq_codebook(vectors, m, n_codes, vec_id, vec_col, dim)
    codes = pq_encode(vectors, codebook, m, vec_id, vec_col, dim)
    q = literal_vector([float(x) for x in query_vec])
    lut = codebook.select(
        "subspace",
        "code_id",
        F.round(
            dot_product(F.col("center"), F.slice(q, F.col("subspace") * sub + 1, sub)),
            SCORE_DP,
        )
        .cast("decimal(18,6)")
        .alias("partial"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code_id"])
        .groupBy(vec_id)
        .agg(F.sum("partial").cast("double").alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc(vec_id)).limit(k)


def knn_pq_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "query_vec",
    dim: int = 64,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k per query for a query SET: (query_id, vec_id, score, rank).

    The lookup table is |queries| x m x n_codes rows (tiny) built by one
    broadcast crossJoin of the query set against the codebook; corpus-side
    work is the same single broadcast join + decimal sum as knn_pq — per
    additional query the marginal cost is one more LUT row group, never
    another corpus pass.  Pass `codebook` to score against a refined
    codebook (pq_codebook_kmeans) instead of the stride default."""
    from pyspark.sql import Window

    sub = dim // m
    if codebook is None:
        codebook = pq_codebook(vectors, m, n_codes, vec_id, vec_col, dim)
    codes = pq_encode(vectors, codebook, m, vec_id, vec_col, dim)
    lut = queries.crossJoin(F.broadcast(codebook)).select(
        query_id,
        "subspace",
        "code_id",
        F.round(
            dot_product(
                F.col("center"), F.slice(F.col(query_col), F.col("subspace") * sub + 1, sub)
            ),
            SCORE_DP,
        )
        .cast("decimal(18,6)")
        .alias("partial"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code_id"])
        .groupBy(query_id, vec_id)
        .agg(F.sum("partial").cast("double").alias("score"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(vec_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, vec_id, "score", "rank")
    )


def residual_frame(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, list_id, residual): each vector's offset from its assigned
    IVF centroid, in double precision (the quantity IVF-PQ encodes)."""
    from log_vector_spark.operators.search import ivf_assign

    assigned = ivf_assign(vectors, centroids, vec_id, vec_col).select(
        vec_id, vec_col, "list_id"
    )
    return assigned.join(F.broadcast(centroids), "list_id").select(
        vec_id,
        "list_id",
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.transform(F.col("centroid"), lambda x: x.cast("double")),
            lambda x, y: x - y,
        ).alias("residual"),
    )


def knn_ivfpq(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ approximate top-k — the production 100 TB ANN layout (the
    structure FAISS deploys): coarse-quantize every vector to an IVF list,
    PQ-encode its RESIDUAL from the list centroid, and at query time probe
    only the `nprobe` nearest lists, scoring candidates as

        score(v) ~ q·c_list  +  sum_j LUT[list, j, code_j(v)]

    where the lookup table holds dot(q slice_j, center_{j,code}) — the
    inner-product ADC decomposition (q·c + q·residual; the Euclidean
    (q - c) expansion would be wrong for the dot/cosine metric) — for
    every (probed list, subspace, code) — nprobe x m x n_codes rows
    (512 here), broadcast.  Data-scaled work at query time: one join of the
    probed lists' code rows against that table plus a decimal sum — no
    per-vector float math, and the codes table is partition-pruned by
    list_id at scale exactly like the plain IVF store.  Residual encoding
    is what makes the small codebook usable: residuals live in a ball
    around the centroid, so the same 16 codes/subspace quantize far finer
    than they would on raw vectors.

    Deterministic end-to-end (stride codebook on residuals, argmin ties to
    lower code, decimal partial sums) — replayed by the knn_ivfpq oracle.
    """
    from log_vector_spark.functions.vector import cosine_to_query
    from log_vector_spark.operators.search import SCORE_DP as _DP

    sub = dim // m
    q = literal_vector([float(x) for x in query_vec])
    # the residual frame embeds the IVF argmin (a crossJoin-scored broadcast
    # stage) and is consumed by the codebook count+seeds, the encoder, and
    # the list join: checkpoint so the assignment runs ONCE, not 4x.  At
    # scale residuals/codes are write-time artifacts read from storage.
    res = residual_frame(vectors, centroids, vec_id, vec_col).localCheckpoint(eager=True)
    codebook = pq_codebook(res, m, n_codes, vec_id, "residual", dim)
    codes = pq_encode(res, codebook, m, vec_id, "residual", dim).join(
        res.select(vec_id, "list_id"), vec_id
    )
    probed = (
        centroids.withColumn(
            "qscore", F.round(cosine_to_query(F.col("centroid"), query_vec), _DP)
        )
        .orderBy(F.desc("qscore"), F.asc("list_id"))
        .limit(nprobe)
        .select("list_id", "centroid")
    )
    # Inner-product ADC decomposition: q·v = q·c_list + q·r_v, so the
    # lookup table is dot(q_slice, residual_center) and q·c_list is the
    # per-list constant.  (The (q - c) query-residual form belongs to the
    # EUCLIDEAN IVF-PQ expansion of ||q - v||^2; using it under a dot/cosine
    # metric injects a -c·r error term per subspace — caught by the recall
    # guardrail at 0.05 vs the correct form's parity with raw PQ.)
    qlists = probed.select(
        "list_id",
        F.round(dot_product(q, F.col("centroid")), _DP)
        .cast("decimal(18,6)")
        .alias("qc"),
    )
    lut = qlists.crossJoin(F.broadcast(codebook)).select(
        "list_id",
        "subspace",
        "code_id",
        "qc",
        F.round(
            dot_product(F.col("center"), F.slice(q, F.col("subspace") * sub + 1, sub)),
            _DP,
        )
        .cast("decimal(18,6)")
        .alias("partial"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["list_id", "subspace", "code_id"])
        .groupBy(vec_id)
        .agg((F.first("qc") + F.sum("partial")).cast("double").alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc(vec_id)).limit(k)


def knn_ivfpq_refined(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vec,
    k: int = 5,
    k_adc: int = 25,
    nprobe: int = 4,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Two-stage IVF-PQ retrieval: ADC shortlist, exact rescore (the FAISS
    refine stage, ``IndexRefineFlat``).

    Stage 1 runs :func:`knn_ivfpq` for ``k_adc`` candidates — all the
    data-scaled work, touching only 4-byte codes in the probed lists.
    Stage 2 re-reads the RAW vectors for just those ``k_adc`` ids (a
    broadcast semi-join against the vector table — at scale a pruned
    point-lookup into the id-sorted store) and re-ranks by exact cosine.

    This recovers exact top-k ordering whenever the true neighbors survive
    the ADC shortlist, so recall@k is bounded by ADC recall@k_adc — much
    higher than recall@k — while exact float math touches k_adc rows
    instead of the corpus.  The standard production layout: PQ compresses
    the scan, refine pays full precision only on the shortlist.
    """
    from log_vector_spark.functions.vector import cosine_to_query

    cand = knn_ivfpq(
        vectors, centroids, query_vec, k=k_adc, nprobe=nprobe,
        m=m, n_codes=n_codes, vec_id=vec_id, vec_col=vec_col, dim=dim,
    ).select(vec_id)
    rescored = vectors.join(F.broadcast(cand), vec_id).select(
        vec_id,
        F.round(cosine_to_query(F.col(vec_col), query_vec), SCORE_DP).alias("score"),
    )
    return rescored.orderBy(F.desc("score"), F.asc(vec_id)).limit(k)
