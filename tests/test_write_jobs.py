"""Job-count pins for the write paths.  The `write` round is bound by the
number of Spark jobs it runs, not by data size (each small job costs
about 0.05-0.1 s of driver overhead), so a change that adds a job to a
warm ingest epoch or to the IVF store lifecycle fails here.  Each bound
is what the path runs now.  Jobs are counted from the status store, as
`test_one_job_per_warm_question` does: by job id range, or for a stream
by the micro-batch's job description."""

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# a steady-state training-ingest epoch: the empty-batch guard, the Bloom
# probe, the prefix collect, and the fps, Bloom-delta, survivor, stats,
# HLL and index writes
INGEST_EPOCH_JOBS = 21
# ensure_ivf_store -> retrain_ivf_store -> maintain_ivf (no retrain)
IVF_LIFECYCLE_JOBS = 23

_WORDS = "the cat of a dog and the sun to a hill".split()


def _sc(spark):
    return spark.sparkContext._jsc.sc()


def _next_job(spark) -> int:
    _sc(spark).listenerBus().waitUntilEmpty()
    return _sc(spark).dagScheduler().nextJobId()


def _is_batch(description, batch: int) -> bool:
    """A streaming micro-batch's jobs carry a description ending in
    ``batch = <id>``; a foreachBatch sink runs on the stream's thread, so
    its jobs inherit it."""
    return description is not None and re.search(rf"\bbatch = {batch}$", description) is not None


def _write_epoch_files(src: str) -> None:
    """Two id-ordered epoch files of gate-passing docs; ids 40-49 of the
    second repeat the texts of ids 10-19, so its Bloom probe has probable
    hits and the exact confirmation runs."""
    os.makedirs(src)
    for e, ids in enumerate((range(0, 40), range(40, 80))):
        texts = [" ".join(_WORDS * 4 + [f"doc{i - 30 if i < 50 and e else i}"]) for i in ids]
        path = os.path.join(src, f"epoch{e}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array(list(ids), pa.int64()),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": [f"s{i % 3}" for i in ids],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }),
            path,
        )
        os.utime(path, (1_700_000_000 + 100 * e,) * 2)


@pytest.mark.spark
def test_steady_state_ingest_epoch_jobs(spark, tmp_path):
    from log_vector_spark.streaming.pipeline import run_stream_training_ingest

    src = str(tmp_path / "src")
    _write_epoch_files(src)
    # warm-up ingest into another store: the measured run is not a first call
    run_stream_training_ingest(spark, src, str(tmp_path / "warm"))

    j0 = _next_job(spark)
    res = run_stream_training_ingest(spark, src, str(tmp_path / "out"))
    j1 = _next_job(spark)
    assert res["n_epochs"] == 2 and res["n_unique_fps"] == 70

    store = _sc(spark).statusStore()
    epoch1 = {}
    for j in range(j0, j1):
        d = store.job(j).description()
        if d.isDefined() and _is_batch(d.get(), 1):
            epoch1[j] = d.get()
    assert 0 < len(epoch1) <= INGEST_EPOCH_JOBS, len(epoch1)

    # the Bloom probe (the only plan that scans the Bloom deltas) runs once
    (label,) = set(epoch1.values())  # query name, ids and run id: this run's
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    bloom_scans = 0
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.description() != label:
            continue
        bloom_scans += any(
            ln.startswith("Location:") and "bloom_deltas" in ln
            for ln in ex.physicalPlanDescription().splitlines()
        )
    assert bloom_scans == 1


@pytest.mark.spark
def test_ivf_store_lifecycle_jobs(spark, tmp_path):
    from log_vector_spark.sources.index_store import (
        ensure_ivf_store,
        maintain_ivf,
        retrain_ivf_store,
    )

    g = np.random.default_rng(7)
    n, dim = 400, 16
    vecs = g.normal(size=(n, dim)).astype(np.float32)
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.arange(n) % 4, pa.int32()),
        }),
        str(sf / "embeddings.parquet"),
    )
    j0 = _next_job(spark)
    root = ensure_ivf_store(spark, str(sf))
    info = retrain_ivf_store(spark, root)
    tick = maintain_ivf(spark, root)
    j1 = _next_job(spark)
    assert info["n_vectors"] == n and not tick["retrained"]
    assert j1 - j0 <= IVF_LIFECYCLE_JOBS, j1 - j0


@pytest.mark.spark
def test_kmeans_centroids_plan_as_a_local_relation(spark):
    """The refined k-row centroid table is held by the driver: it plans as
    LocalTableScan, never as a Python-RDD scan."""
    from log_vector_spark.operators.search import make_centroids_kmeans

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7)]) for i in range(64)], "vec_id long, embedding array<float>"
    )
    cents = make_centroids_kmeans(emb, every=16, iters=1)
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.mark.spark
def test_manifest_write_plans_a_local_relation(spark, tmp_path):
    from log_vector_spark.sources.store import write_manifest

    sc = spark.sparkContext
    label = "write-manifest-plan"
    sc.setJobDescription(label)
    try:
        write_manifest(spark, str(tmp_path / "store"), "repo", "deterministic", "md5-lcg", 2000)
    finally:
        sc.setJobDescription(None)
    _sc(spark).listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).description() == label
    ]
    assert plans and all("ExistingRDD" not in p for p in plans), plans
    assert any("LocalTableScan" in p for p in plans), plans
