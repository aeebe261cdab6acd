"""Distributed Lloyd's k-means over an embedding column.

Semantic clustering is the workhorse behind curriculum bucketing, cluster-
balanced sampling, and topic-level dedup in pretraining pipelines (the
reference engine has no clustering; this extends the brief's similarity
surface).  The implementation (r12, guide §4.2/§2.4):

  * the assignment is a map-side Arrow kernel
    (functions/argmin.assign_l2_arrow): centroids are collected (k rows —
    the same relation earlier rounds broadcast) and every batch's argmin
    runs vectorized in NumPy with the HOF fold's exact IEEE sequence — no
    Exchange, no interpreted per-pair fold (the old
    crossJoin(broadcast) + fold + min(struct) plan is kept in ``_assign``
    as the executable spec the kernel is pinned against);
  * each Lloyd round's centroids are collected back, so the next
    round's kernel (and every downstream consumer) sees a literal — the
    expensive multi-round lineage is paid once per query build, not once
    per consumer action;
  * the centroid update stays a distributed linear shuffle keyed
    (cluster, dim) with map-side partial aggregation producing k*dim
    rows, collected as they are and put in dim order on the driver
    (decimal-exact means are cheap JVM codegen; nothing data-scaled ever
    reaches the driver — only k x dim doubles per round).

Determinism contract (what makes this oracle-pairable against unrolled
SQL): seeds are the k lowest-id vectors; distances are rounded to 6dp
before the argmin; ties break on centroid id; updated centroid components
are decimal-exact means rounded to 6dp.  Both engines therefore walk the
identical rounded state through every iteration.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _l2(a, b, dim: int | None = None) -> F.Column:
    """Euclidean distance between two double-array columns (left-to-right
    accumulation, matching DuckDB's list_distance order).  With ``dim`` the
    sum unrolls into whole-stage codegen (BASELINE lesson 7: ~30x over the
    interpreted HOF fold on broadcast-assignment stages) — bit-identical
    doubles either way (functions.vector.squared_l2 contract)."""
    from log_vector_spark.functions.vector import l2_distance

    return l2_distance(a, b, dim)


def _assign(
    vectors: DataFrame, centroids: DataFrame, id_col: str, dim: int | None = None
) -> DataFrame:
    """Nearest centroid per vector: rounded distance, ties to lowest cid.

    argmin as a groupBy struct-min, NOT a window: the k-way scored relation
    is reduced map-side (partial min per partition), so the shuffle carries
    one row per vector instead of k — at production k (thousands of lists)
    a window would shuffle the k-times-larger scored relation wholesale.
    The struct orders (d, cid, ...) so ties still break to the lowest cid;
    cid is unique per scored row, so the trailing payload never compares.
    """
    j = vectors.crossJoin(
        F.broadcast(centroids.select("cid", F.col("e").alias("ce")))
    ).withColumn("d", F.round(_l2(F.col("e"), F.col("ce"), dim), 6))
    best = j.groupBy(id_col).agg(
        F.min(F.struct(F.col("d"), F.col("cid"), F.col("e"))).alias("m")
    )
    return best.select(
        id_col, F.col("m.e").alias("e"), F.col("m.cid").alias("cid"), F.col("m.d").alias("d")
    )


def _update(assigned: DataFrame) -> tuple[list, np.ndarray]:
    """One Lloyd update, collected: per-cluster element-wise means,
    decimal-exact then rounded to 6dp, as (cids ascending, k x dim array).

    The (cid, dim) means come back as k x dim rows, the payload the k
    centroid arrays carry, and are put in dim order here: one shuffle per
    round, where grouping them into arrays in Spark first costs one more
    job for the same rows."""
    dims = assigned.select("cid", F.posexplode("e").alias("dim", "x"))
    means = dims.groupBy("cid", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(28,20)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("xm")
    )
    per: dict = {}
    for cid, dim, xm in means.collect():  # k x dim rows
        per.setdefault(cid, []).append((dim, xm))
    cids = sorted(per)
    C = np.asarray(
        [[xm for _, xm in sorted(per[c], key=lambda t: t[0])] for c in cids], dtype=np.float64
    )
    return cids, C


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Run `iters` Lloyd rounds; return (assignments, centroids) — the
    model form.  `assignments` carries (id, e, cid, d); `centroids` is the
    (cid, e) relation the FINAL assignment was scored against (c_{iters-1}
    in the unrolled-oracle notation), which is what model consumers like
    semdedup need: members must be compared to the centroid that claimed
    them, not to a post-hoc re-mean.

    Seeds = the k lowest-id vectors (deterministic, oracle-reproducible;
    swap for k-means|| sampling in production where determinism across
    engines is not required).
    """
    from log_vector_spark.functions.argmin import assign_l2_arrow, centroid_frame

    spark = vectors.sparkSession
    v = vectors.select(
        id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("e")
    )
    # seeds: the k lowest-id vectors, collected (k rows) — cid = rank 0..k-1
    seeds = v.orderBy(id_col).limit(k).collect()
    if not seeds:
        empty_assigned = (
            v.where(F.lit(False))
            .withColumn("cid", F.lit(None).cast("int"))
            .withColumn("d", F.lit(None).cast("double"))
        )
        return empty_assigned, centroid_frame(spark, [], [], T.IntegerType(), names=("cid", "e"))
    cids = list(range(len(seeds)))
    C = np.asarray([r["e"] for r in seeds], dtype=np.float64)
    # r12 (guide §4.2/§2.4): each round = one map-side Arrow argmin over v
    # + the distributed decimal-exact update, whose k x dim result is
    # collected for the next round (the same payload the old plan's
    # BroadcastExchange carried).  Paying the rounds eagerly here means a
    # consumer action re-runs only ONE cheap kernel pass, never the whole
    # Lloyd chain, and the returned centroids are an Arrow local relation
    # that nothing can re-fire.
    for _ in range(iters - 1):
        cids, C = _update(assign_l2_arrow(v, cids, C, id_col, T.IntegerType()))
    assigned = assign_l2_arrow(v, cids, C, id_col, T.IntegerType())
    c = centroid_frame(spark, cids, C, T.IntegerType(), names=("cid", "e"))
    return assigned, c


def kmeans_assignments(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist) per vector — the assignment view of kmeans_fit."""
    assigned, _ = kmeans_fit(vectors, k, iters, id_col, vec_col)
    return assigned.select(
        id_col, F.col("cid").alias("cluster"), F.col("d").alias("dist")
    )


def embedding_drift_report(
    vectors: DataFrame,
    n_bins: int = 8,
    threshold: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    split_col=None,
) -> DataFrame:
    """Per-dimension distribution-drift monitor between a reference and a
    current split of the corpus: the check a training pipeline runs when a
    new crawl lands, before re-training indexes or mixing the batch in.

    Drift metric is TOTAL VARIATION DISTANCE over `n_bins` fixed-width
    bins (bin edges from the GLOBAL per-dim min/max), not PSI: TVD's
    terms are pure count arithmetic — per dim,

        tvd = sum_b |cnt_cur_b * total_ref - cnt_ref_b * total_cur|
              / (2 * total_ref * total_cur)

    computed in exact BIGINT products with ONE final division, so the
    number is bit-identical on any engine and any partitioning (PSI's
    per-bin ln() terms would ride engine ULP differences straight into
    the 6dp compare).  Also reports decimal-exact per-split means and
    their shift.

    Default split is the id parity (vec_id % 2) — the deterministic stand-
    in for a before/after ingest boundary; pass `split_col` (a boolean
    Column, true = current) for a real one, e.g. F.col("ingest_day") >= X.

    Scale: one posexplode (corpus x dim rows, scan stage) feeding two
    hash aggregates keyed (dim) and (dim, bin) with map-side combine —
    two linear shuffles whose outputs are DIM-sized, not corpus-sized;
    the bounded (dim) stats broadcast back for binning.  No windows, no
    UDFs, nothing data-scaled on the driver.
    """
    split = (
        (F.col(id_col) % 2 == 1) if split_col is None else split_col
    ).cast("int")  # 0 = reference, 1 = current
    dims = vectors.select(
        F.col(id_col),
        split.alias("cur"),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "dim", "x"
        ),
    )
    stats = dims.groupBy("dim").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.sum(F.when(F.col("cur") == 0, F.col("x").cast("decimal(28,20)"))).alias(
            "s_ref"
        ),
        F.sum(F.when(F.col("cur") == 1, F.col("x").cast("decimal(28,20)"))).alias(
            "s_cur"
        ),
        F.sum(F.lit(1) - F.col("cur")).cast("bigint").alias("total_ref"),
        F.sum("cur").cast("bigint").alias("total_cur"),
    )
    binned = (
        dims.join(F.broadcast(stats.select("dim", "mn", "mx")), "dim")
        .select(
            "dim",
            "cur",
            F.when(
                F.col("mx") > F.col("mn"),
                F.least(
                    F.floor(
                        (F.col("x") - F.col("mn"))
                        * n_bins
                        / (F.col("mx") - F.col("mn"))
                    ).cast("int"),
                    F.lit(n_bins - 1),
                ),
            )
            .otherwise(F.lit(0))
            .alias("bin"),
        )
        .groupBy("dim", "bin")
        .agg(
            F.sum(F.lit(1) - F.col("cur")).cast("bigint").alias("cnt_ref"),
            F.sum("cur").cast("bigint").alias("cnt_cur"),
        )
    )
    per_dim = (
        binned.join(F.broadcast(stats), "dim")
        .groupBy("dim")
        .agg(
            F.sum(
                F.abs(
                    F.col("cnt_cur") * F.col("total_ref")
                    - F.col("cnt_ref") * F.col("total_cur")
                )
            )
            .cast("bigint")
            .alias("sum_abs"),
            F.first("s_ref").alias("s_ref"),
            F.first("s_cur").alias("s_cur"),
            F.first("total_ref").alias("total_ref"),
            F.first("total_cur").alias("total_cur"),
        )
    )
    # an empty split (all-even or all-odd ids, the degenerate-corpus case)
    # makes TVD/means undefined: guard every division so the report
    # degrades to NULL cells instead of an ANSI divide-by-zero
    nz_both = (F.col("total_ref") > 0) & (F.col("total_cur") > 0)
    tvd = F.when(
        nz_both,
        F.round(F.col("sum_abs") / (2.0 * F.col("total_ref") * F.col("total_cur")), 6),
    )
    mean_ref = F.when(
        F.col("total_ref") > 0,
        F.round(F.col("s_ref").cast("double") / F.col("total_ref"), 6),
    )
    mean_cur = F.when(
        F.col("total_cur") > 0,
        F.round(F.col("s_cur").cast("double") / F.col("total_cur"), 6),
    )
    return per_dim.select(
        F.col("dim").cast("int").alias("dim"),
        tvd.alias("tvd"),
        mean_ref.alias("mean_ref"),
        mean_cur.alias("mean_cur"),
        F.round(mean_cur - mean_ref, 6).alias("mean_shift"),
        (tvd >= threshold).alias("drifted"),
    )


def cluster_silhouette(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster simplified (centroid-based) silhouette — the standard
    clustering-quality report for a curation run that buckets a corpus
    before balanced sampling or semantic dedup.

    Classic silhouette needs all pairwise within/between distances (O(N^2),
    a non-starter at corpus scale); the centroid form (a(i) = distance to
    own centroid, b(i) = min distance to any OTHER centroid,
    s = (b-a)/max(a,b)) is the scalable estimator every production
    clustering report uses — it reuses the k-row centroid relation the
    assignment already broadcast, so the marginal cost over kmeans_fit is
    one more scan-stage k-way distance fold and one linear vec-keyed
    reduce.  No new shuffle keys, nothing data-scaled on the driver.

    Determinism contract (oracle-pairable): a is the assignment's rounded
    6dp distance; b rounds each other-centroid distance to 6dp before the
    min; s is rounded to 6dp; the per-cluster mean is a decimal-exact sum
    of the 6dp values divided once and rounded (the kmeans update idiom),
    so every reported number is fold-order-proof.  Degenerate vectors
    sitting exactly on two centroids (a = b = 0) score 0 by convention.
    """
    # r12 (guide §4.2/§2.4): both silhouette terms are pure per-row
    # reductions over the k centroid distances, so the whole scoring runs
    # in ONE map-side Arrow kernel (functions/argmin.silhouette_scores_arrow):
    # a = smallest rounded distance (ties to lowest cid — exactly the
    # assignment's argmin), b = the second smallest (cids are distinct per
    # vector, so the second entry IS the min over other clusters).  The
    # old crossJoin(broadcast) + fold + groupBy(collect_list) form paid a
    # k-way interpreted fold plus a per-vector hash-agg Exchange for what
    # is row-local arithmetic; the kernel leaves the per-CLUSTER mean as
    # the only shuffle in the plan.  Lloyd rounds share kmeans_fit's
    # collect-per-round idiom (identical rounded state, literal
    # centroids).
    from log_vector_spark.functions.argmin import (
        assign_l2_arrow,
        silhouette_scores_arrow,
    )

    v = vectors.select(
        id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("e")
    )
    seeds = v.orderBy(id_col).limit(k).collect()
    if not seeds:
        # empty input (kmeans_fit's guard): no centroids to score against,
        # so the report is the typed empty aggregate
        scores = v.where(F.lit(False)).select(
            F.lit(None).cast("long").alias("cid"), F.lit(None).cast("double").alias("s")
        )
    else:
        cids = list(range(len(seeds)))
        C = np.asarray([r["e"] for r in seeds], dtype=np.float64)
        for _ in range(iters - 1):
            cids, C = _update(assign_l2_arrow(v, cids, C, id_col, T.IntegerType()))
        scores = silhouette_scores_arrow(v, cids, C, id_col)
    return (
        scores
        .groupBy(F.col("cid").cast("int").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("s").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
            F.round(F.min("s").cast("double"), 6).alias("min_silhouette"),
            F.sum((F.col("s") < 0).cast("bigint")).alias("n_negative"),
        )
    )
