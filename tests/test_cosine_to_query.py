"""Pin: the literal-query cosine (functions.vector.cosine_to_query, and so
search.score_against / knn_topk) returns the same doubles, bit for bit, as
the generic three-fold expression it replaced,
round(cosine_similarity(e, literal_vector(q)), 6), on degenerate rows and
queries — with the row norm folded per row and with it read from a column.
"""

import math
import struct

import pytest

SCHEMA = "vec_id long, embedding array<double>"

ROWS = [
    (0, None),  # NULL embedding -> NULL score
    (1, [0.0, 0.0, 0.0]),  # all-zero row -> 0.0
    (2, [1.0, float("nan"), 0.5]),  # NaN element
    (3, [float("inf"), 1.0, 0.0]),  # +inf element
    (4, [float("-inf"), 1.0, 2.0]),  # -inf element
    (5, [1e200, 1.0, 1.0]),  # square-sum overflows to inf
    (6, [0.5, -0.25]),  # narrower than the query
    (7, [0.5, -0.25, 0.125, 2.0]),  # wider than the query
    (8, [1.0, 0.0, 0.0]),
    (9, [0.3, -0.7, 0.2]),
    (10, [1e8, 1.0, 1.0]),  # norm depends on the fold order
    (11, []),
]

# squares 1e16, 1, 1: folded left to right the two 1s are absorbed
# (1e16 + 1 rounds back to 1e16), folded right to left they are not
ORDERED_QUERY = [1e8, 1.0, 1.0]
QUERIES = [ORDERED_QUERY, [0.3, -0.7, 0.2], [0.0, 0.0, 0.0], []]


def _fold_sq(values):
    acc = 0.0
    for x in values:
        acc += x * x
    return acc


def test_ordered_query_is_fold_order_sensitive():
    assert _fold_sq(ORDERED_QUERY) != _fold_sq(ORDERED_QUERY[::-1])
    assert math.sqrt(_fold_sq(ORDERED_QUERY)) != math.sqrt(_fold_sq(ORDERED_QUERY[::-1]))


def _old_cosine(vec, q):
    """The replaced expression, written out: three HOF folds per row."""
    from pyspark.sql import functions as F

    qv = F.array(*[F.lit(float(x)) for x in q])

    def norm(a):
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    dot = F.aggregate(
        F.zip_with(vec, qv, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = F.coalesce(F.try_divide(dot, norm(vec) * norm(qv)), F.lit(0.0))
    return F.when(vec.isNull() | qv.isNull(), F.lit(None).cast("double")).otherwise(sim)


def _bits(x):
    return None if x is None else struct.pack("<d", x)


@pytest.fixture(scope="module")
def vectors(spark):
    from pyspark.sql import functions as F

    from log_vector_spark.functions.vector import l2_norm

    df = spark.createDataFrame(ROWS, SCHEMA)
    return df.withColumn("n", l2_norm(F.col("embedding")))


@pytest.mark.spark
def test_scores_bit_identical_to_old_expression(vectors):
    from pyspark.sql import functions as F

    from log_vector_spark.functions.vector import cosine_to_query
    from log_vector_spark.operators.search import score_against

    e = F.col("embedding")
    cols = []
    for i, q in enumerate(QUERIES):
        cols += [
            F.round(_old_cosine(e, q), 6).alias(f"old_score{i}"),
            _old_cosine(e, q).alias(f"old_cos{i}"),
            cosine_to_query(e, q).alias(f"cos{i}"),
            cosine_to_query(e, q, F.col("n")).alias(f"cos_n{i}"),
        ]
    wide = vectors.select("vec_id", *cols)
    for i, q in enumerate(QUERIES):
        wide = wide.join(
            score_against(vectors, q).select("vec_id", F.col("score").alias(f"score{i}")),
            "vec_id",
        ).join(
            score_against(vectors, q, norm_col="n").select(
                "vec_id", F.col("score").alias(f"score_n{i}")
            ),
            "vec_id",
        )
    rows = wide.orderBy("vec_id").collect()
    assert [r.vec_id for r in rows] == [r[0] for r in ROWS]
    for r in rows:
        for i in range(len(QUERIES)):
            want = _bits(r[f"old_score{i}"])
            assert _bits(r[f"score{i}"]) == want, (r.vec_id, i, r[f"score{i}"], r[f"old_score{i}"])
            assert _bits(r[f"score_n{i}"]) == want, (r.vec_id, i, r[f"score_n{i}"])
            want = _bits(r[f"old_cos{i}"])
            assert _bits(r[f"cos{i}"]) == want, (r.vec_id, i, r[f"cos{i}"], r[f"old_cos{i}"])
            assert _bits(r[f"cos_n{i}"]) == want, (r.vec_id, i, r[f"cos_n{i}"])
    # the degenerate rows really are degenerate
    by_id = {r.vec_id: r for r in rows}
    assert by_id[0]["score0"] is None
    assert by_id[1]["score0"] == 0.0
    assert math.isnan(by_id[2]["score1"])
    assert by_id[6]["score1"] == by_id[7]["score1"] == 0.0  # ragged: NULL dot
    # left to right the query norm is exactly 1e8, so this cosine is exactly
    # 1.0; a right-to-left fold gives 1e8 + 1 ulp and a cosine below 1.0
    assert by_id[8]["cos0"] == 1.0


@pytest.mark.spark
@pytest.mark.parametrize("n_rows", [1, len(ROWS)])
def test_knn_topk_k_beyond_rows_matches_old_expression(vectors, n_rows):
    from pyspark.sql import functions as F

    from log_vector_spark.operators.search import knn_topk

    some = vectors.where(F.col("vec_id") >= len(ROWS) - n_rows)
    q = QUERIES[1]
    old = (
        some.select("vec_id", F.round(_old_cosine(F.col("embedding"), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .collect()
    )
    assert len(old) == n_rows
    for norm_col in (None, "n"):
        got = knn_topk(some, q, k=len(ROWS) + 3, norm_col=norm_col).collect()
        assert [(r.vec_id, _bits(r.score)) for r in got] == [
            (r.vec_id, _bits(r.score)) for r in old
        ]


@pytest.mark.spark
@pytest.mark.parametrize("shortlist", [3, len(ROWS) + 3])
@pytest.mark.parametrize("q", QUERIES[:2])
def test_matryoshka_rerank_matches_old_two_stage(spark, tmp_path, q, shortlist):
    """knn_matryoshka_rerank folds the prefix norm once per row (excluding
    zero-norm prefixes by a NULL score instead of a filter); the shortlist
    and the scores stay those of the old filter + three-fold form."""
    from pyspark.sql import functions as F

    from log_vector_spark.functions.vector import l2_norm
    from log_vector_spark.operators.search import knn_matryoshka_rerank

    # a parquet scan, so the optimizer cannot fold the plan into a local
    # relation and the executed plan shows the per-row folds
    path = str(tmp_path / "vectors")
    spark.createDataFrame(ROWS, SCHEMA).write.parquet(path)
    vectors = spark.read.parquet(path)
    e, k = F.col("embedding"), len(ROWS) + 3
    pfx = F.slice(e, 1, 2)
    old = (
        vectors.filter(l2_norm(pfx) > 0)
        .withColumn("s_pfx", F.round(_old_cosine(pfx, q[:2]), 6))
        .orderBy(F.desc("s_pfx"), F.asc("vec_id"))
        .limit(shortlist)
        .select("vec_id", F.round(_old_cosine(e, q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .collect()
    )
    new = knn_matryoshka_rerank(vectors, q, k=k, prefix_dim=2, shortlist=shortlist)
    assert [(r.vec_id, _bits(r.score)) for r in new.collect()] == [
        (r.vec_id, _bits(r.score)) for r in old
    ]
    # one prefix-norm fold per row: l2_norm(slice(...)) appears once
    plan = new._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(transform(slice(") == 1, plan
