"""The shared epoch sink of streaming/pipeline.py: one file layout per
policy, a replayed epoch replacing its own leaves, empty micro-batches
reaching no sink, and one rule for a missing artifact."""

import os

import pytest


def _files_per_leaf(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        n = len([f for f in files if not f.startswith(("_", "."))])
        if n:
            out[os.path.relpath(d, root)] = n
    return out


@pytest.mark.spark
def test_epoch_write_layouts_and_replay(spark, tmp_path):
    from log_vector_spark.streaming.pipeline import BOUNDED, epoch_write

    df = spark.range(0, 40, 1, 4).selectExpr("id", "CAST(id % 3 AS INT) AS k")
    bounded, keyed, plain = (str(tmp_path / n) for n in ("bounded", "keyed", "plain"))
    for epoch in (0, 1):
        epoch_write(df, bounded, epoch, BOUNDED)
        epoch_write(df, keyed, epoch, "k")
        epoch_write(df, plain, epoch)
    assert _files_per_leaf(bounded) == {"epoch=0": 1, "epoch=1": 1}
    # the key is the leading partition level, one file per (key, epoch) leaf
    assert _files_per_leaf(keyed) == {f"k={k}/epoch={e}": 1 for k in range(3) for e in (0, 1)}
    # as-is keeps the frame's own partitioning: one file per task
    assert _files_per_leaf(plain) == {"epoch=0": 4, "epoch=1": 4}

    # a replayed epoch replaces exactly its own leaves
    for path, layout in ((bounded, BOUNDED), (keyed, "k"), (plain, None)):
        epoch_write(df.filter("id < 10"), path, 1, layout)
        counts = {
            r["epoch"]: r["count"]
            for r in spark.read.parquet(path).groupBy("epoch").count().collect()
        }
        assert counts == {0: 40, 1: 10}, path


@pytest.mark.spark
def test_empty_micro_batch_reaches_no_sink(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from log_vector_spark.streaming.pipeline import epoch_write, file_stream, run_epochs

    src = tmp_path / "src"
    src.mkdir()
    # one file per micro-batch, in mtime order; the middle one has no rows
    for i, ids in enumerate(([1, 2, 3], [], [4, 5])):
        p = src / f"f{i}.parquet"
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), p)
        os.utime(p, (1_700_000_000 + 100 * i,) * 2)
    out = str(tmp_path / "out")
    seen = []

    def sink(batch_df, epoch_id):
        seen.append(epoch_id)
        epoch_write(batch_df, out, epoch_id)

    run_epochs(file_stream(spark, "id long", str(src), max_files=1), sink, str(tmp_path / "ckpt"))
    assert seen == [0, 2]
    assert sorted(_files_per_leaf(out)) == ["epoch=0", "epoch=2"]
    assert spark.read.parquet(out).count() == 5


@pytest.mark.spark
def test_read_artifact_missing_means_no_data_file(spark, tmp_path):
    from log_vector_spark.streaming.pipeline import epoch_write, read_artifact

    assert read_artifact(spark, str(tmp_path / "absent")) is None
    # an all-empty partitioned write leaves a dir with no data file
    empty = str(tmp_path / "empty")
    epoch_write(spark.range(3).filter("id < 0"), empty, 0)
    assert os.path.isdir(empty)
    assert read_artifact(spark, empty) is None
    full = str(tmp_path / "full")
    epoch_write(spark.range(3), full, 0)
    assert read_artifact(spark, full).count() == 3
