"""Ingestion source tests over a tmpdir corpus (FIXTURES.md item 1)."""

import pytest


@pytest.fixture()
def corpus(tmp_path):
    (tmp_path / "app.log").write_text("line one\nline two\n", encoding="utf-8")
    (tmp_path / "latin.txt").write_bytes("café au lait".encode("latin1"))
    (tmp_path / "binary.bin").write_bytes(b"\x00\x01\x02MZ binary junk")
    sub = tmp_path / "node_modules"
    sub.mkdir()
    (sub / "vendored.js").write_text("ignore me", encoding="utf-8")
    nested = tmp_path / "src"
    nested.mkdir()
    (nested / "deep.log").write_text("nested file", encoding="utf-8")
    return tmp_path


@pytest.mark.spark
def test_scan_skips_ignored_dirs(spark, corpus):
    from log_vector_spark.sources.corpus import scan_corpus

    paths = [r.path for r in scan_corpus(spark, str(corpus)).collect()]
    assert not any("node_modules" in p for p in paths)
    assert any(p.endswith("deep.log") for p in paths)
    assert len(paths) == 4  # app.log latin.txt binary.bin deep.log


@pytest.mark.spark
def test_read_corpus_text_decodes_and_isolates_errors(spark, corpus):
    from log_vector_spark.sources.corpus import read_corpus_text

    rows = {r.path.split("/")[-1]: r for r in read_corpus_text(spark, str(corpus)).collect()}
    assert rows["app.log"].text == "line one\nline two\n"
    assert rows["app.log"].encoding == "utf-8"
    # latin1 bytes: utf-8 fails, ladder falls through to latin1
    assert rows["latin.txt"].text == "café au lait"
    assert rows["latin.txt"].encoding == "latin1"
    # null-byte file: rejected, flagged, job did not fail (T4 isolation)
    assert rows["binary.bin"].text is None
    assert rows["binary.bin"].error is True


@pytest.mark.spark
def test_store_roundtrip_overwrite_and_append(spark, tmp_path):
    from log_vector_spark.sources import store

    df = spark.createDataFrame(
        [("s1:0:0", "s1", 0, 1, "hello", [3.0, 4.0])],
        "chunk_id string, source string, chunk_index int, total_chunks int, "
        "document string, embedding array<double>",
    )
    path = str(tmp_path / "store")
    store.write_chunks(df, path, mode="overwrite")
    store.write_chunks(df, path, mode="append")
    assert store.read_chunks(spark, path).count() == 2  # append kept both
    store.write_chunks(df, path, mode="overwrite")
    rows = store.read_chunks(spark, path).collect()
    assert len(rows) == 1  # overwrite reset
    assert rows[0].embedding == [3.0, 4.0]  # stored as written, not normalized

    store.write_manifest(spark, path, "repo", "deterministic", "md5-lcg", 2000)
    m = store.read_manifest(spark, path)
    assert m["embedding_type"] == "deterministic" and m["chunk_size"] == 2000

    with pytest.raises(FileNotFoundError):
        store.read_manifest(spark, str(tmp_path / "nowhere"))


@pytest.mark.spark
def test_multimodal_stub_raises(spark):
    from log_vector_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


@pytest.mark.spark
def test_multimodal_audio_stub_raises():
    from log_vector_spark.operators.multimodal import decode_audio

    with pytest.raises(NotImplementedError):
        decode_audio(b"\x00\x01")


@pytest.mark.spark
def test_multimodal_thumbnail_fixed_size_and_deterministic(spark):
    from log_vector_spark.catalog import table
    from log_vector_spark.operators.multimodal import attach_binary, resize_thumbnail

    media = attach_binary(table(spark, "documents", "/root/testdata/sf0.001").limit(20))
    t1 = {r.media_id: bytes(r.thumb) for r in resize_thumbnail(media, 8, 8).collect()}
    t2 = {r.media_id: bytes(r.thumb) for r in resize_thumbnail(media, 8, 8).collect()}
    assert t1 == t2 and len(t1) == 20
    assert all(len(v) == 64 for v in t1.values())


@pytest.mark.spark
def test_upsert_chunks_idempotent(spark, tmp_path):
    from log_vector_spark.sources.store import read_chunks, upsert_chunks

    base = str(tmp_path / "store")
    df1 = spark.createDataFrame(
        [(f"s{i}:{j}", f"s{i}", j, 2, f"text {i}{j}") for i in range(3) for j in range(2)],
        "chunk_id string, source string, chunk_index int, total_chunks int, document string",
    )
    assert upsert_chunks(df1, base) == 6
    # re-running the identical batch appends nothing (stream-retry safety)
    assert upsert_chunks(df1, base) == 0
    # a mixed batch appends only the genuinely new rows
    df2 = spark.createDataFrame(
        [("s0:0", "s0", 0, 2, "dup"), ("s9:0", "s9", 0, 1, "new")],
        "chunk_id string, source string, chunk_index int, total_chunks int, document string",
    )
    assert upsert_chunks(df2, base) == 1
    stored = read_chunks(spark, base)
    assert stored.count() == 7
    assert stored.filter("chunk_id = 's0:0'").count() == 1
