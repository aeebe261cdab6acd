"""k-means guardrails: separation, determinism, and plan shape."""

from pyspark.sql import Row

from log_vector_spark.operators.cluster import kmeans_assignments


def _vecs(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def test_kmeans_separates_two_obvious_blobs(spark):
    blob_a = [[0.0 + d, 0.0] for d in (0, 0.1, 0.2)]
    blob_b = [[10.0 + d, 10.0] for d in (0, 0.1, 0.2)]
    out = kmeans_assignments(_vecs(spark, blob_a + blob_b), k=2, iters=3).collect()
    by_id = {r["vec_id"]: r["cluster"] for r in out}
    assert len({by_id[0], by_id[1], by_id[2]}) == 1
    assert len({by_id[3], by_id[4], by_id[5]}) == 1
    assert by_id[0] != by_id[3]


def test_kmeans_iteration_moves_centroids(spark):
    # Seeds are the 2 lowest ids — both in blob A — so round 1 lumps all of
    # blob B onto seed 1; the round-2 recomputed centroid must pull blob B's
    # members to a tighter distance than the seed gave them.
    blob_a = [[0.0, 0.0], [0.2, 0.0]]
    blob_b = [[10.0, 10.0], [10.2, 10.0]]
    df = _vecs(spark, blob_a + blob_b)
    one = {r["vec_id"]: r["dist"] for r in kmeans_assignments(df, k=2, iters=1).collect()}
    two = {r["vec_id"]: r["dist"] for r in kmeans_assignments(df, k=2, iters=2).collect()}
    assert two[2] < one[2] and two[3] < one[3]


def test_kmeans_is_deterministic_across_partitionings(spark):
    vecs = [[float(i % 7), float((i * 3) % 5)] for i in range(40)]
    df = _vecs(spark, vecs)
    a = sorted(map(tuple, kmeans_assignments(df, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_assignments(df.repartition(13), k=4, iters=2).collect()))
    assert a == b


def test_kmeans_assignment_is_zero_shuffle_map_kernel(spark):
    # r12: the assignment is a map-side Arrow argmin over literal
    # centroids (functions/argmin).  The registered plan must carry NO
    # Exchange, NO join, NO Window — one MapInArrow node over the scan is
    # the whole assignment (the old crossJoin(broadcast)+struct-min shape
    # lives on only as cluster._assign, the kernel's executable spec).
    df = _vecs(spark, [[float(i), 0.0] for i in range(20)])
    plan = (
        kmeans_assignments(df, k=2, iters=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# embedding_drift_report (operators/cluster.py): TVD closed forms
# ---------------------------------------------------------------------------


def _drift_df(spark, vecs):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def test_drift_identical_splits_is_zero(spark):
    from log_vector_spark.operators.cluster import embedding_drift_report

    # even/odd pairs carry identical vectors -> every bin count matches
    vecs = []
    for i in range(10):
        v = [float(i % 4), float(-i % 3)]
        vecs.extend([v, v])
    rows = embedding_drift_report(_drift_df(spark, vecs)).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.tvd == 0.0
        assert r.mean_shift == 0.0
        assert r.drifted is False


def test_drift_disjoint_ranges_is_one(spark):
    from log_vector_spark.operators.cluster import embedding_drift_report

    # ref (even ids) lives in [0, 1], cur (odd ids) in [10, 11]: no bin is
    # shared, TVD = 1 on dim 0; dim 1 is constant -> single bin, TVD = 0
    vecs = []
    for i in range(20):
        vecs.append([float(i % 2 * 10 + (i % 5) / 5.0), 1.0])
    rows = {r.dim: r for r in embedding_drift_report(_drift_df(spark, vecs)).collect()}
    assert rows[0].tvd == 1.0
    assert rows[0].drifted is True
    assert rows[1].tvd == 0.0
    assert rows[1].mean_shift == 0.0


def test_drift_empty_split_degrades_to_nulls(spark):
    from log_vector_spark.operators.cluster import embedding_drift_report

    # all ids even -> current split empty: NULL metrics, no ANSI crash
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(vec_id=2 * i, embedding=[1.0, 2.0]) for i in range(5)]
    )
    rows = embedding_drift_report(df).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.tvd is None
        assert r.mean_cur is None
        assert r.mean_ref is not None
        assert r.drifted is None


def test_silhouette_separated_blobs_near_one(spark):
    # Two tight, far-apart blobs: every point is ~0 from its own centroid
    # and ~14 from the other, so both clusters' mean silhouette ~= 1.
    blob_a = [[0.0 + d, 0.0] for d in (0, 0.1, 0.2)]
    blob_b = [[10.0 + d, 10.0] for d in (0, 0.1, 0.2)]
    from log_vector_spark.operators.cluster import cluster_silhouette

    out = cluster_silhouette(_vecs(spark, blob_a + blob_b), k=2, iters=3).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_vectors"] == 3
        assert r["mean_silhouette"] > 0.95
        assert r["n_negative"] == 0


def test_silhouette_bounded_and_counts_negatives(spark):
    # A point sitting between two centroids scores near 0 (can dip negative
    # after reassignment rounding); all values must stay within [-1, 1].
    vecs = [[0.0, 0.0], [0.1, 0.0], [10.0, 0.0], [10.1, 0.0], [5.0, 0.0]]
    from log_vector_spark.operators.cluster import cluster_silhouette

    out = cluster_silhouette(_vecs(spark, vecs), k=2, iters=2).collect()
    assert sum(r["n_vectors"] for r in out) == 5
    for r in out:
        assert -1.0 <= r["min_silhouette"] <= 1.0
        assert -1.0 <= r["mean_silhouette"] <= 1.0


def _old_update(assigned):
    """The Lloyd update as one Spark plan: (cid, dim) means grouped back
    into dim-ordered arrays — the spec cluster._update's driver-side
    assembly is pinned against."""
    from pyspark.sql import functions as F

    dims = assigned.select("cid", F.posexplode("e").alias("dim", "x"))
    per = dims.groupBy("cid", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(28,20)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("xm")
    )
    return per.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "xm"))), lambda s: s.getField("xm")
        ).alias("e")
    )


def test_kmeans_fit_centroids_match_the_old_plan_as_a_local_relation(spark):
    """kmeans_fit's centroid table is an Arrow local relation with the
    same rows, bit for bit, and the same (cid int, e array<double>) types
    as the Spark-side update over the spec assignment; the empty-seed path
    keeps the types."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from log_vector_spark.operators.cluster import _assign, kmeans_fit

    vecs = [[float((i * 7) % 11) / 3, float((i * 5) % 13) / 7, 0.1 * i] for i in range(60)]
    df = _vecs(spark, vecs)
    k = 4
    _, cents = kmeans_fit(df, k=k, iters=3)
    c_schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("e", T.ArrayType(T.DoubleType()), True),
        ]
    )
    assert cents.schema == c_schema
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    v = df.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    c = spark.createDataFrame(
        [(cid, [float(x) for x in vecs[cid]]) for cid in range(k)], c_schema
    )
    for _ in range(2):  # iters - 1 updates
        rows = sorted(_old_update(_assign(v, c, "vec_id")).collect())
        c = spark.createDataFrame([(r["cid"], r["e"]) for r in rows], c_schema)
    assert sorted(map(tuple, cents.collect())) == sorted(map(tuple, c.collect()))

    _, empty = kmeans_fit(df.where(F.lit(False)), k=k, iters=3)
    assert empty.schema == c_schema and empty.collect() == []
