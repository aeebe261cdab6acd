"""Vector expression tests against numpy ground truth."""

import numpy as np
import pytest

from log_vector_spark.functions.vector import fixed_query_vector


def test_fixed_query_vector_deterministic():
    a, b = fixed_query_vector(64, 7), fixed_query_vector(64, 7)
    assert a == b
    assert len(a) == 64
    assert fixed_query_vector(64, 8) != a
    # exactly-representable 6dp decimals
    assert all(abs(v) <= 0.5 and round(v, 6) == v for v in a)


@pytest.mark.spark
def test_cosine_matches_numpy(spark):
    from pyspark.sql import functions as F

    from log_vector_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_norm,
        l2_normalize,
        literal_vector,
    )

    rng = np.random.RandomState(0)
    a = rng.rand(16).tolist()
    b = rng.rand(16).tolist()
    df = spark.range(1).select(
        dot_product(literal_vector(a), literal_vector(b)).alias("dot"),
        cosine_similarity(literal_vector(a), literal_vector(b)).alias("cos"),
        l2_norm(literal_vector(a)).alias("norm"),
        F.aggregate(
            l2_normalize(literal_vector(a)), F.lit(0.0), lambda acc, x: acc + x * x
        ).alias("unit_sq"),
    )
    r = df.collect()[0]
    assert np.isclose(r.dot, np.dot(a, b))
    assert np.isclose(r.cos, np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert np.isclose(r.norm, np.linalg.norm(a))
    assert np.isclose(r.unit_sq, 1.0)


@pytest.mark.spark
def test_zero_vector_cosine_is_zero(spark):
    from log_vector_spark.functions.vector import cosine_similarity, literal_vector

    df = spark.range(1).select(
        cosine_similarity(literal_vector([0.0, 0.0]), literal_vector([1.0, 2.0])).alias("c")
    )
    assert df.collect()[0].c == 0.0


@pytest.mark.spark
def test_unrolled_dim_path_parity_with_hof(spark):
    """The dim= unrolled expressions and the HOF folds are the two documented
    implementations (functions/vector.py module docstring) — they must agree
    bit-for-bit so an operator can switch paths per-callsite freely."""
    from pyspark.sql import functions as F

    from log_vector_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_norm,
        l2_normalize,
        literal_vector,
    )

    rng = np.random.RandomState(3)
    a = rng.rand(16).tolist()
    b = rng.rand(16).tolist()
    la, lb = literal_vector(a), literal_vector(b)
    r = spark.range(1).select(
        dot_product(la, lb).alias("dot_hof"),
        dot_product(la, lb, dim=16).alias("dot_unrolled"),
        l2_norm(la).alias("norm_hof"),
        l2_norm(la, dim=16).alias("norm_unrolled"),
        cosine_similarity(la, lb).alias("cos_hof"),
        cosine_similarity(la, lb, dim=16).alias("cos_unrolled"),
        l2_normalize(la).alias("unit_hof"),
        l2_normalize(la, dim=16).alias("unit_unrolled"),
    ).collect()[0]
    # bit-identical: the unrolled sum associates left exactly like the fold
    assert r.dot_hof == r.dot_unrolled
    assert r.norm_hof == r.norm_unrolled
    assert r.cos_hof == r.cos_unrolled
    assert r.unit_hof == r.unit_unrolled


@pytest.mark.spark
def test_unrolled_wrong_dim_raises_not_nulls(spark):
    """In a non-ANSI session element_at past the end returns NULL; the size
    guard must turn a wrong dim into an error, never a silent NULL score."""
    from log_vector_spark.functions.vector import dot_product, literal_vector

    df = spark.range(1).select(
        dot_product(literal_vector([1.0, 2.0]), literal_vector([3.0, 4.0]), dim=4).alias("d")
    )
    with pytest.raises(Exception, match="vector width != dim"):
        df.collect()


@pytest.mark.spark
def test_null_array_scores_null_not_zero(spark):
    """A NULL embedding must propagate NULL (distinguishable from a true
    zero-similarity pair), on both the HOF and unrolled paths."""
    from pyspark.sql import functions as F

    from log_vector_spark.functions.vector import (
        cosine_similarity,
        l2_normalize,
        literal_vector,
    )

    null_vec = F.lit(None).cast("array<double>")
    ok = literal_vector([1.0, 2.0])
    r = spark.range(1).select(
        cosine_similarity(null_vec, ok).alias("c_hof"),
        cosine_similarity(null_vec, ok, dim=2).alias("c_unrolled"),
        cosine_similarity(ok, null_vec).alias("c_rhs"),
        l2_normalize(null_vec).alias("n_hof"),
        l2_normalize(null_vec, dim=2).alias("n_unrolled"),
    ).collect()[0]
    assert r.c_hof is None and r.c_unrolled is None and r.c_rhs is None
    assert r.n_hof is None and r.n_unrolled is None


@pytest.mark.spark
def test_quantization_quality_floor(spark):
    """int8 symmetric quantization: codes bounded by 127 by construction,
    and 64-dim embeddings must keep cosine >= 0.999 after dequantization
    (the audit that justifies the 4x storage cut)."""
    import __spark_entry__ as m

    rows = m.queries()["embedding_quantization"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 < r.max_code <= 127
        assert r.cos_orig_e6 >= 999000
        assert r.max_abs_err_e6 <= r.scale_e6 // 2 + 1  # err <= scale/2 (+1 ulp at 6dp)


def test_sqrt_stride_policy():
    from log_vector_spark.operators.search import sqrt_stride

    assert sqrt_stride(100) == 16          # floor wins at tiny N
    assert sqrt_stride(2_000) == 16        # sf0.01-scale
    assert sqrt_stride(20_000) == 35       # ~the empirically optimal 37 at sf1
    assert sqrt_stride(2_000_000) == 354   # keeps growing as sqrt(N)/4
    # asymptotics: work a*N^2/s + p*N*s is N^1.5 when s ~ sqrt(N)
    assert sqrt_stride(200_000_000) == 3536


@pytest.mark.spark
def test_quantized_store_roundtrip_preserves_neighbors(spark):
    """quantize_for_store -> dequantize: top-5 cosine neighbors of the fixed
    query are unchanged vs the float store (the retrieval property the 4x
    storage cut must not break)."""
    from log_vector_spark.functions.vector import fixed_query_vector
    from log_vector_spark.operators.search import knn_topk
    from log_vector_spark.sources.store import dequantize_embedding, quantize_for_store

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = fixed_query_vector(dim=64, seed=7)
    exact = [r.vec_id for r in knn_topk(emb, q, k=5).collect()]

    stored = quantize_for_store(emb)
    assert dict(stored.dtypes)["embedding_q"] == "array<tinyint>"
    back = stored.withColumn("embedding", dequantize_embedding())
    dequant = [r.vec_id for r in knn_topk(back, q, k=5).collect()]
    # scores within ~1e-3 of each other may legitimately swap ranks under
    # int8 reconstruction error: require full set recall and a stable head
    assert set(exact) == set(dequant)
    assert exact[:3] == dequant[:3]


@pytest.mark.spark
def test_int4_pack_unpack_exact_roundtrip(spark):
    """Nibble packing is lossless: unpack(pack(codes)) * scale equals the
    directly-computed int4 dequantization for every vector and dimension,
    the packed column is HALF the dimension count, and codes stay in
    [-7, 7] (so (c+8)*16 + (c+8) - 128 stays in tinyint range)."""
    from pyspark.sql import functions as F

    from log_vector_spark.sources.store import (
        dequantize_int4_embedding,
        quantize_int4_for_store,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    stored = quantize_int4_for_store(emb)
    assert dict(stored.dtypes)["embedding_q4"] == "array<tinyint>"
    back = stored.withColumn("u", dequantize_int4_embedding())

    # direct (unpacked) reference computed from the float column
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = (
        F.aggregate(
            F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: F.greatest(a, x)
        )
        / F.lit(7.0)
    )
    ref = (
        emb.withColumn("_s", scale)
        .withColumn(
            "u_ref",
            F.when(
                F.col("_s") > 0,
                F.transform(v, lambda x: F.floor(x / F.col("_s") + F.lit(0.5)) * F.col("_s")),
            ).otherwise(F.transform(v, lambda x: F.lit(0.0))),
        )
        .select("vec_id", "u_ref")
    )
    j = back.select("vec_id", "u", F.size("embedding_q4").alias("n_packed")).join(
        ref, "vec_id"
    )
    bad = j.filter(
        (F.col("n_packed") != 32)
        | F.exists(F.zip_with("u", "u_ref", lambda a, b: a != b), lambda x: x)
    )
    assert bad.count() == 0


@pytest.mark.spark
def test_int4_odd_dimension_roundtrip(spark):
    """Odd dims pack ceil(dim/2) bytes with a code-0 pad nibble and carry
    the true dim in embedding_dim4; the round-trip restores EXACTLY dim
    values — no silently dropped last component (ADVICE r5)."""
    from pyspark.sql import functions as F

    from log_vector_spark.sources.store import (
        dequantize_int4_embedding,
        quantize_int4_for_store,
    )

    rows = [
        (1, [7.0, -7.0, 3.5]),             # dim 3
        (2, [1.0]),                        # dim 1
        (3, [0.5, -0.25, 0.125, 1.0, -1.0]),  # dim 5
        (4, [2.0, 4.0]),                   # even control
        (5, [0.0, 0.0, 0.0]),              # zero sentinel, odd dim
        (6, []),                           # empty
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    stored = quantize_int4_for_store(emb)
    got = {
        r["vec_id"]: (r["n_packed"], r["dim"], r["u"])
        for r in stored.select(
            "vec_id",
            F.size("embedding_q4").alias("n_packed"),
            F.col("embedding_dim4").alias("dim"),
            dequantize_int4_embedding().alias("u"),
        ).collect()
    }
    import math

    for vec_id, vec in rows:
        n_packed, dim, u = got[vec_id]
        assert n_packed == math.ceil(len(vec) / 2)
        assert dim == len(vec)
        assert len(u) == len(vec)  # pad nibble never reappears
        s = max((abs(x) for x in vec), default=0.0) / 7.0
        expect = [math.floor(x / s + 0.5) * s if s > 0 else 0.0 for x in vec]
        assert all(abs(a - b) < 1e-12 for a, b in zip(u, expect))
