"""Binary (sign-bit) embedding quantization + Hamming-shortlist ANN.

The compression rung BELOW product quantization: one bit per dimension
(sign of the component), so a 64-dim float32 vector (256 bytes) becomes
two 32-bit words (16 bytes stored as BIGINTs) — 16x smaller than the raw
column and 4x smaller than the int8 store form (sources/store.py
quantize_for_store).  Retrieval is the standard two-stage shape every
binary-quantized vector store uses (FAISS IndexBinaryFlat + refine,
the public Hamming-prefilter idiom):

  1. Hamming shortlist — XOR + popcount over the packed sign codes,
     global top-`shortlist` by (hamming asc, id asc).  This stage reads
     ONLY the code column: at 100 TB the scan is 16x cheaper than the
     float scan, stays entirely in whole-stage codegen (bit_count and
     bitwiseXOR are JVM intrinsics riding CPU POPCNT), and reduces
     map-side through TakeOrderedAndProject partial top-k — no shuffle
     of anything corpus-scaled, no UDFs.
  2. Exact rescore — the bounded shortlist broadcasts back into the
     float vector table and true cosine re-ranks it, exactly like the
     IVF-PQ refine step (operators/pq.py knn_ivfpq + rescore).

Sign-correlation rationale (public result behind every binary-embedding
deployment): for unit vectors, E[hamming]/bits is monotone in the angle
(hamming/bits estimates theta/pi, the SimHash estimator — dedup.py
simhash uses the same identity over random hyperplanes; here the
hyperplanes are the coordinate axes, which is exact enough for a
SHORTLIST because the rescore stage restores true cosine order).

Words hold 32 bits each (not 64) so the packed value stays positive and
the pack/XOR/popcount pipeline is bit-identical between Spark and the
DuckDB oracle without signed-overflow edge cases; the storage report
prices the 8-byte word honestly.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from log_vector_spark.functions.vector import cosine_similarity, cosine_to_query

WORD_BITS = 32
SCORE_DP = 6


def n_words(dim: int, word_bits: int = WORD_BITS) -> int:
    return math.ceil(dim / word_bits)


def sign_pack(vec: Column, dim: int, word_bits: int = WORD_BITS) -> Column:
    """Pack the sign bits of a float-array column into array<bigint> words.

    Bit b of word j is set iff component (j*word_bits + b + 1) > 0 — a
    pure Column expression (no UDF) that runs in the scan stage; writing
    this next to the float column is the index build, and it is how any
    write-time artifact of the store should add it.
    """
    nw = n_words(dim, word_bits)
    return F.transform(
        F.sequence(F.lit(0), F.lit(nw - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.lit(word_bits - 1)),
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(
                F.element_at(vec, (j * F.lit(word_bits) + b + 1).cast("int")) > 0,
                F.pow(F.lit(2.0), b).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def sign_pack_py(vec: Sequence[float], word_bits: int = WORD_BITS) -> list[int]:
    """Driver-side pack of a literal query vector (no Spark job)."""
    words = []
    for j in range(n_words(len(vec), word_bits)):
        w = 0
        for b in range(word_bits):
            i = j * word_bits + b
            if i < len(vec) and vec[i] > 0:
                w |= 1 << b
        words.append(w)
    return words


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR across the word arrays — JVM-intrinsic bit ops."""
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
    ).cast("int")


def knn_binary(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage binary-quantized k-NN: Hamming shortlist, exact rescore.

    Returns (vec_id, hamming, score) — hamming kept for observability of
    how deep in the shortlist the true neighbors sat.
    """
    codes = vectors.select(vec_id, sign_pack(F.col(vec_col), dim).alias("bcode"))
    qcode = F.array(*[F.lit(int(w)).cast("long") for w in sign_pack_py(query_vec)])
    short = (
        codes.select(vec_id, hamming_distance(F.col("bcode"), qcode).alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc(vec_id))
        .limit(shortlist)
    )
    rescored = vectors.join(F.broadcast(short), vec_id).select(
        vec_id,
        "hamming",
        F.round(cosine_to_query(F.col(vec_col), query_vec), SCORE_DP).alias("score"),
    )
    return rescored.orderBy(F.desc("score"), F.asc(vec_id)).limit(k)


def knn_binary_batch(
    vectors: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    dim: int = 64,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Binary two-stage top-k for a query SET: (query_id, vec_id, score, rank).

    Query codes are packed from the query relation itself (bounded batch,
    broadcasts); corpus-side cost is |batch| XOR+popcounts per code row —
    the cheap stage — and the float table is touched only by the
    broadcast-joined shortlist (<= batch * shortlist rows).
    """
    codes = vectors.select(vec_id, sign_pack(F.col(vec_col), dim).alias("bcode"))
    qcodes = queries_df.select(
        query_id,
        F.col(query_vec).alias("__qv"),
        sign_pack(F.col(query_vec), dim).alias("qcode"),
    )
    ham = codes.crossJoin(F.broadcast(qcodes)).select(
        query_id,
        vec_id,
        "__qv",
        hamming_distance(F.col("bcode"), F.col("qcode")).alias("hamming"),
    )
    w_short = Window.partitionBy(query_id).orderBy(F.asc("hamming"), F.asc(vec_id))
    short = ham.withColumn("hrn", F.row_number().over(w_short)).filter(
        F.col("hrn") <= shortlist
    )
    rescored = vectors.join(
        F.broadcast(short.select(query_id, vec_id, "__qv", "hamming")), vec_id
    ).select(
        query_id,
        vec_id,
        "hamming",
        F.round(cosine_similarity(F.col(vec_col), F.col("__qv")), SCORE_DP).alias(
            "score"
        ),
    )
    w_rank = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(vec_id))
    return (
        rescored.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, vec_id, "score", "rank")
    )
