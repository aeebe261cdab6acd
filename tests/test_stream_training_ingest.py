"""Composed streaming training-data pipeline (VERDICT r6 item 5): gate ->
cross-epoch exact dedup -> encode -> sketch deltas + IVF index delta under
ONE checkpoint.  Each stage is proven in isolation elsewhere; these tests
prove they COMPOSE: batch parity with clean_corpus_pipeline, exactly-once
across a mid-stream restart, and idempotent full replay."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _stage_slices(spark, src_dir: str, n_slices: int = 3):
    """Split the documents table into n doc_id-ordered parquet slices with
    increasing mtimes, so maxFilesPerTrigger=1 yields deterministic
    id-ordered epochs (the crawl-ingest shape batch-dedup parity needs)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .orderBy("doc_id")
        .toPandas()
    )
    os.makedirs(src_dir, exist_ok=True)
    n = len(pdf)
    cut = (n + n_slices - 1) // n_slices
    paths = []
    for i in range(n_slices):
        part = pdf.iloc[i * cut : (i + 1) * cut]
        p = os.path.join(src_dir, f"slice{i}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), p)
        os.utime(p, (1_700_000_000 + 100 * i,) * 2)
        paths.append(p)
    return paths


def _batch_parity_rows(spark):
    import __spark_entry__ as m

    return {
        r["source"]: (r["n_docs"], r["total_tokens"], r["avg_quality"])
        for r in m.queries()["clean_corpus_pipeline"](spark, SF).collect()
    }


@pytest.mark.spark
@pytest.mark.slow
def test_composed_ingest_batch_parity_and_restart(spark, tmp_path):
    from log_vector_spark.streaming.pipeline import run_stream_training_ingest

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    paths = _stage_slices(spark, src + "_staging")
    os.makedirs(src)

    # ---- phase 1: only slice 0 visible; one epoch, then the job STOPS ----
    shutil.copy2(paths[0], os.path.join(src, "slice0.parquet"))
    mid = run_stream_training_ingest(spark, src, out)
    assert mid["n_epochs"] == 1
    assert 0 < mid["n_survivors"] < mid["n_unique_fps"]
    fps_mid = spark.read.parquet(os.path.join(out, "fps")).count()
    centroids_mid = sorted(
        map(tuple, spark.read.parquet(os.path.join(out, "centroids")).collect())
    )

    # ---- phase 2: RESTART the job (same checkpoint) with the remaining
    # slices now visible — it must resume from committed offsets, never
    # re-ingesting slice 0, and reuse the persisted centroids ----
    for p in paths[1:]:
        shutil.copy2(p, os.path.join(src, os.path.basename(p)))
    final = run_stream_training_ingest(spark, src, out)
    assert final["n_epochs"] == 3

    # exactly-once across the restart: fingerprints are globally unique
    fps = spark.read.parquet(os.path.join(out, "fps"))
    assert fps.count() == fps.select("fp").distinct().count()
    assert fps.filter(F.col("epoch") == 0).count() == fps_mid  # epoch 0 untouched

    # centroids frozen across the restart -> stable list assignment
    centroids_final = sorted(
        map(tuple, spark.read.parquet(os.path.join(out, "centroids")).collect())
    )
    assert centroids_final == centroids_mid

    # ---- batch parity: folded per-source stats == clean_corpus_pipeline ----
    assert final["stats"] == _batch_parity_rows(spark)

    # the index delta holds exactly the survivors' vectors, IVF-partitioned
    index = spark.read.parquet(os.path.join(out, "index"))
    assert index.count() == final["n_survivors"] == index.select("vec_id").distinct().count()
    assert 1 < final["n_lists"] <= spark.read.parquet(os.path.join(out, "centroids")).count()

    # HLL sketch deltas fold to a sane distinct estimate: every register
    # row is per (source, reg) with positive rank, mergeable by max
    hll = spark.read.parquet(os.path.join(out, "hll_deltas"))
    folded = hll.groupBy("source", "reg").agg(F.max("mj").alias("mj"))
    assert folded.filter(F.col("mj") <= 0).count() == 0


@pytest.mark.spark
@pytest.mark.slow
def test_composed_ingest_replay_is_idempotent(spark, tmp_path):
    """Checkpoint loss -> full re-ingest dynamic-overwrites every epoch's
    own partitions: all folded artifacts identical, no duplicates."""
    from log_vector_spark.streaming.pipeline import run_stream_training_ingest

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _stage_slices(spark, src)

    first = run_stream_training_ingest(spark, src, out)
    index_first = sorted(
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(out, "index")).collect()
    )
    shutil.rmtree(os.path.join(out, "_checkpoint"))
    second = run_stream_training_ingest(spark, src, out)
    assert first == second
    index_second = sorted(
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(out, "index")).collect()
    )
    assert index_first == index_second


@pytest.mark.spark
@pytest.mark.slow
def test_prior_fps_scan_is_partition_pruned(spark, tmp_path):
    """VERDICT r7 item 3 pin: the exact-confirmation scan of the prior
    fingerprint store must prune BOTH partition levels — the literal
    fp-prefix buckets and epoch < current — in PartitionFilters, and the
    per-epoch Bloom deltas must stay bounded by the bitset size."""
    from log_vector_spark.plans.explain import plan_string
    from log_vector_spark.streaming.pipeline import (
        FP_PFX_COL,
        INGEST_BLOOM_BITS,
        prior_fps_pruned,
        run_stream_training_ingest,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _stage_slices(spark, src, n_slices=2)
    run_stream_training_ingest(spark, src, out)

    fps_dir = os.path.join(out, "fps")
    # store layout: fp_pfx buckets above epoch leaves
    assert any(
        d.startswith(f"{FP_PFX_COL}=") for d in os.listdir(fps_dir)
    ), "fps store not prefix-partitioned"

    pruned = prior_fps_pruned(spark, fps_dir, ["a", "b"], epoch_id=1)
    plan = plan_string(pruned, "formatted")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, "no PartitionFilters in the prior-fps scan"
    assert FP_PFX_COL in pf[0] and "epoch" in pf[0], pf[0]
    # the pruned scan returns a strict subset of the full history
    full = spark.read.parquet(fps_dir).filter(F.col("epoch") < 1)
    assert pruned.count() <= full.count()
    assert (
        pruned.count()
        == full.filter(F.col(FP_PFX_COL).isin(["a", "b"])).count()
    )

    # Bloom deltas: bounded rows, replay-proof epoch layout
    bloom = spark.read.parquet(os.path.join(out, "bloom_deltas"))
    per_epoch = bloom.groupBy("epoch").count().collect()
    assert per_epoch and all(r["count"] <= INGEST_BLOOM_BITS for r in per_epoch)


@pytest.mark.spark
@pytest.mark.slow
def test_resume_over_legacy_epoch_only_fps_store(spark, tmp_path):
    """ADVICE r8: a stream resumed over a pre-r8 fps store (epoch-only
    layout, no fp_pfx= level) must keep working — the prior-fps probe
    degrades to a row filter instead of raising on the missing column,
    and new epochs keep the legacy layout (mixed partition depths break
    Spark's partition discovery)."""
    from log_vector_spark.streaming.pipeline import (
        FP_PFX_COL,
        _fps_store_is_legacy,
        run_stream_training_ingest,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    paths = _stage_slices(spark, src + "_staging")
    os.makedirs(src)

    shutil.copy2(paths[0], os.path.join(src, "slice0.parquet"))
    mid = run_stream_training_ingest(spark, src, out)
    assert mid["n_epochs"] == 1

    # convert the store to the pre-r8 shape: epoch-only, no fp_pfx column
    fps_dir = os.path.join(out, "fps")
    pdf = spark.read.parquet(fps_dir).toPandas()
    shutil.rmtree(fps_dir)
    (
        spark.createDataFrame(pdf.drop(columns=[FP_PFX_COL]))
        .write.partitionBy("epoch")
        .parquet(fps_dir)
    )
    assert _fps_store_is_legacy(spark, fps_dir)
    # and a missing store is current-layout by definition
    assert not _fps_store_is_legacy(spark, str(tmp_path / "nope"))

    for p in paths[1:]:
        shutil.copy2(p, os.path.join(src, os.path.basename(p)))
    final = run_stream_training_ingest(spark, src, out)
    assert final["n_epochs"] == 3

    fps = spark.read.parquet(fps_dir)
    assert FP_PFX_COL not in fps.columns  # layout stayed legacy throughout
    assert fps.count() == fps.select("fp").distinct().count()  # still exact
    assert final["stats"] == _batch_parity_rows(spark)


@pytest.mark.spark
def test_sparse_first_survivors_still_freeze_a_centroid(spark, tmp_path):
    """Survivor ids are the doc_ids of gated, deduped documents, so the
    first surviving batch can hold no multiple of the sqrt stride (>= 16).
    The freeze must still hold a centroid, or the IVF assignment of every
    epoch is empty and the index never gets a row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from log_vector_spark.streaming.pipeline import run_stream_training_ingest

    src = tmp_path / "src"
    src.mkdir()
    words = "the cat of a dog and the sun to a hill".split()
    # epoch 0 ids 1..9 (none is 0 mod 16), epoch 1 ids 17..26
    for e, ids in enumerate((list(range(1, 10)), list(range(17, 27)))):
        texts = [" ".join(words * 4 + [f"doc{i}"]) for i in ids]
        p = src / f"epoch{e}.parquet"
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": texts,
                "lang": ["en"] * len(ids),
                "source": ["s0"] * len(ids),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }),
            p,
        )
        os.utime(p, (1_700_000_000 + 100 * e,) * 2)
    res = run_stream_training_ingest(spark, str(src), str(tmp_path / "out"))
    assert res["n_epochs"] == 2
    assert res["n_survivors"] == 19
    assert res["index_rows"] == res["n_survivors"]
    assert res["n_lists"] == 1  # the frozen lowest survivor id

