"""The store writers take their returned counters from the write itself
(observes on the written frames).  Each counter is pinned here against a
recount of what was written, including the cases where AQE prunes an
observe away: an empty corpus, a corpus of nothing but unreadable files,
and a touched source whose every document was deleted."""

import os

import pytest
from pyspark.sql import functions as F


def _data_files(path):
    return [
        f
        for _root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    ]


@pytest.mark.spark
def test_build_index_counters_match_the_store(spark, tmp_path):
    from log_vector_spark.sources.corpus import read_corpus_text
    from log_vector_spark.sources.store import read_chunks
    from tools.index_cli import build_index

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "app.log").write_text("alpha beta gamma delta\n" * 40, encoding="utf-8")
    (repo / "notes.txt").write_text("query join scan filter\n" * 25, encoding="utf-8")
    (repo / "a.bin").write_bytes(b"\x00\x01\x02 junk")
    (repo / "b.bin").write_bytes(b"\x00\x07 more junk")
    store = str(tmp_path / "store")
    stats = build_index(spark, str(repo), store, chunk_size=200)
    assert stats["chunks_written"] == read_chunks(spark, store).count() > 0
    errored = read_corpus_text(spark, str(repo)).filter(F.col("error")).count()
    assert stats["files_errored"] == errored == 2


@pytest.mark.spark
def test_build_index_counters_on_an_all_binary_tree(spark, tmp_path):
    """No file decodes: the chunk stage is empty, AQE drops it and the
    observes inside it, and the errored count must still be right."""
    from tools.index_cli import build_index

    repo = tmp_path / "repo"
    repo.mkdir()
    for i in range(3):
        (repo / f"blob{i}.bin").write_bytes(bytes([0, i, 2]) + b" junk")
    store = str(tmp_path / "store")
    stats = build_index(spark, str(repo), store, chunk_size=200)
    assert stats == {"chunks_written": 0, "files_errored": 3}
    assert _data_files(os.path.join(store, "chunks")) == []


@pytest.mark.spark
def test_build_index_counters_on_an_empty_dir(spark, tmp_path):
    from tools.index_cli import build_index

    repo = tmp_path / "repo"
    repo.mkdir()
    store = str(tmp_path / "store")
    stats = build_index(spark, str(repo), store, chunk_size=200)
    assert stats == {"chunks_written": 0, "files_errored": 0}
    assert _data_files(os.path.join(store, "chunks")) == []


@pytest.mark.spark
def test_build_index_append_counters_match_the_store(spark, tmp_path):
    """--append: the appended count rides on the write and equals the
    store's growth, also when nothing is new (the observe's stage is then
    empty) and when the corpus has no text at all."""
    from log_vector_spark.sources.store import read_chunks
    from tools.index_cli import build_index

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "blob.bin").write_bytes(b"\x00\x01 junk")
    store = str(tmp_path / "store")
    empty = build_index(spark, str(repo), store, chunk_size=200, append=True)
    assert empty == {"chunks_written": 0, "files_errored": 1}
    assert _data_files(os.path.join(store, "chunks")) == []

    (repo / "app.log").write_text("alpha beta gamma delta\n" * 40, encoding="utf-8")
    first = build_index(spark, str(repo), store, chunk_size=200, append=True)
    n1 = read_chunks(spark, store).count()
    assert first["chunks_written"] == n1 > 0
    again = build_index(spark, str(repo), store, chunk_size=200, append=True)
    assert again["chunks_written"] == 0
    assert read_chunks(spark, store).count() == n1
    (repo / "notes.txt").write_text("query join scan filter\n" * 25, encoding="utf-8")
    more = build_index(spark, str(repo), store, chunk_size=200, append=True)
    assert more["chunks_written"] == read_chunks(spark, store).count() - n1 > 0


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _text(seed, n=40):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    return "\n".join(words[(seed + i) % len(words)] for i in range(n))


@pytest.mark.spark
def test_index_incremental_first_write_of_an_empty_corpus(spark, tmp_path):
    from log_vector_spark.operators.embed import DeterministicEmbedder
    from log_vector_spark.sources.store import index_incremental

    store = str(tmp_path / "store")
    res = index_incremental(_docs(spark, []), store, DeterministicEmbedder(dim=8), chunk_size=60)
    assert res == {
        "n_stale_docs": 0,
        "n_deleted_docs": 0,
        "n_fresh_chunks": 0,
        "n_carried_chunks": 0,
        "touched_sources": [],
    }
    assert not os.path.exists(os.path.join(store, "chunks_incr"))


@pytest.mark.spark
def test_index_incremental_counters_match_the_store(spark, tmp_path):
    """First write, then a round where one touched source loses every doc
    and another has one doc edited: the fresh, carried and touched
    counters equal a recount of the store, and the emptied source's
    partition is gone."""
    from log_vector_spark.operators.embed import DeterministicEmbedder
    from log_vector_spark.sources.store import index_incremental, read_chunks_incremental

    store = str(tmp_path / "store")
    emb = DeterministicEmbedder(dim=8)
    src = {0: "srcA", 1: "srcA", 2: "srcA", 3: "srcB", 4: "srcB", 5: "srcC", 6: "srcC"}
    v1 = [(i, s, _text(i)) for i, s in src.items()]
    first = index_incremental(_docs(spark, v1), store, emb, chunk_size=60)
    stored = read_chunks_incremental(spark, store)
    assert first["n_fresh_chunks"] == stored.count() > len(v1)
    assert first["n_stale_docs"] == len(v1)
    assert first["n_carried_chunks"] == first["n_deleted_docs"] == 0
    assert first["touched_sources"] == ["srcA", "srcB", "srcC"]

    # srcB: every doc deleted; srcA: doc 1 edited; srcC untouched
    v2 = [(i, s, t + "\nedited" if i == 1 else t) for i, s, t in v1 if s != "srcB"]
    res = index_incremental(_docs(spark, v2), store, emb, chunk_size=60)
    assert res["n_stale_docs"] == 1
    assert res["n_deleted_docs"] == 2
    assert res["touched_sources"] == ["srcA", "srcB"]
    after = read_chunks_incremental(spark, store)
    n_fresh = after.filter(F.col("doc_id") == 1).count()
    n_touched = after.filter(F.col("source").isin("srcA", "srcB")).count()
    assert res["n_fresh_chunks"] == n_fresh > 0
    assert res["n_carried_chunks"] == n_touched - n_fresh > 0
    assert after.filter(F.col("source") == "srcB").count() == 0
    assert not os.path.isdir(os.path.join(store, "chunks_incr", "source=srcB"))

    # only deletions: nothing fresh is embedded, the carry is the survivors
    v3 = [r for r in v2 if r[0] != 0]
    res = index_incremental(_docs(spark, v3), store, emb, chunk_size=60)
    after = read_chunks_incremental(spark, store)
    assert res["n_stale_docs"] == 0 and res["n_deleted_docs"] == 1
    assert res["n_fresh_chunks"] == 0
    assert res["n_carried_chunks"] == after.filter(F.col("source") == "srcA").count() > 0


@pytest.mark.spark
@pytest.mark.slow
def test_retrain_counters_match_the_new_version(spark, tmp_path):
    from log_vector_spark.sources import index_store

    root = str(tmp_path / "ivf_store")
    os.makedirs(root)
    index_store._build_ivf(spark, "/root/testdata/sf0.001", root)
    info = index_store.retrain_ivf_store(spark, root, iters=2)
    vecs = spark.read.schema(index_store._VECTORS_SCHEMA).parquet(
        os.path.join(root, f"vectors_v{info['version']}")
    )
    assert info["n_vectors"] == vecs.count() > 0
    assert info["n_lists_after"] == vecs.select("list_id").distinct().count() > 1


def _write(spark, rows, schema, path, *keys):
    spark.createDataFrame(rows, schema).write.partitionBy(*keys).parquet(path)


@pytest.mark.spark
@pytest.mark.parametrize("missing", ["index", "stats_deltas", "both"])
def test_read_training_ingest_with_missing_artifacts(spark, tmp_path, missing):
    from decimal import Decimal as D

    from log_vector_spark.streaming.pipeline import read_training_ingest

    out = str(tmp_path / "ingest")
    fps = [(e, f"fp{e}_{i}") for e in (0, 1, 2) for i in range(e + 2)]
    _write(spark, fps, "epoch int, fp string", os.path.join(out, "fps"), "epoch")
    if missing not in ("index", "both"):
        index = [(e, i, i % 3) for e in (0, 1) for i in range(5)]
        _write(spark, index, "epoch int, vec_id long, list_id long",
               os.path.join(out, "index"), "epoch")
    if missing not in ("stats_deltas", "both"):
        # sum_quality is the sum of decimal(18,6) qualities, as the ingest writes it
        stats = [(0, "a", 2, 10, D("1.5")), (1, "a", 1, 4, D("0.5")), (1, "b", 3, 9, D("2.25"))]
        _write(spark, stats,
               "epoch int, source string, n_docs long, total_tokens long, sum_quality decimal(28,6)",
               os.path.join(out, "stats_deltas"), "epoch")
    res = read_training_ingest(spark, out)
    assert res["n_epochs"] == 3
    assert res["n_unique_fps"] == len(fps)
    if missing in ("index", "both"):
        assert (res["index_rows"], res["n_lists"]) == (0, 0)
    else:
        assert (res["index_rows"], res["n_lists"]) == (10, 3)
    if missing in ("stats_deltas", "both"):
        assert (res["n_survivors"], res["stats"]) == (0, {})
    else:
        assert res["n_survivors"] == 6
        assert res["stats"] == {"a": (3, 14, round(2.0 / 3, 6)), "b": (3, 9, 0.75)}
