"""The LogVectorEngine facade: index -> ask -> knn -> registry query, all
against one bound store — the reference user's migration path in one test."""

import pytest


@pytest.fixture()
def corpus(tmp_path):
    d = tmp_path / "repo"
    d.mkdir()
    (d / "a.log").write_text("query join scan filter table\n" * 25, encoding="utf-8")
    (d / "b.log").write_text("alpha beta gamma delta epsilon\n" * 25, encoding="utf-8")
    return d


@pytest.mark.spark
@pytest.mark.slow
def test_facade_lifecycle(spark, corpus, tmp_path):
    from log_vector_spark.api import LogVectorEngine

    eng = LogVectorEngine(spark, store_path=str(tmp_path / "store"))
    stats = eng.index(str(corpus), chunk_size=120)
    assert stats["chunks_written"] > 0

    # retrieval surfaces
    assert eng.chunks().count() == stats["chunks_written"]
    qvec = eng.chunks().select("embedding").first()["embedding"]
    hits = eng.knn(qvec, k=3).collect()
    assert len(hits) == 3 and hits[0]["score"] >= hits[-1]["score"]

    ans = eng.ask("what is a scan?")
    assert isinstance(ans, str) and ans

    # analytics registry + raw SQL
    assert "tpch_q1" in eng.list_queries()
    assert eng.query("tpch_q1").count() > 0
    n = eng.sql("SELECT count(*) AS n FROM documents").first()["n"]
    assert n > 0

    with pytest.raises(KeyError):
        eng.query("not_a_query")


@pytest.mark.spark
@pytest.mark.slow
def test_facade_reindex_rebinds_ask(spark, corpus, tmp_path):
    from log_vector_spark.api import LogVectorEngine

    eng = LogVectorEngine(spark, store_path=str(tmp_path / "store"))
    eng.index(str(corpus), chunk_size=120)
    first = eng.ask("alpha?")
    (corpus / "c.log").write_text("zeta eta theta iota kappa\n" * 25, encoding="utf-8")
    eng.index(str(corpus), chunk_size=120)  # overwrite with the larger corpus
    assert eng.chunks().filter("source LIKE '%c.log'").count() > 0
    assert isinstance(first, str) and isinstance(eng.ask("zeta?"), str)


@pytest.mark.spark
@pytest.mark.slow
def test_facade_append_keeps_one_cached_store(spark, corpus, tmp_path):
    """ask -> index(append) -> ask: the second question sees the appended
    chunks through the same query fn, and the session holds one persisted
    store relation, not one per index run."""
    from log_vector_spark.api import LogVectorEngine

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    eng = LogVectorEngine(spark, store_path=str(tmp_path / "store"))
    eng.index(str(corpus), chunk_size=120, append=True)
    assert not eng.ask("alpha?").startswith("Error generating answer")
    first = set(jsc.getPersistentRDDs().keys()) - before
    assert len(first) == 1

    (corpus / "c.log").write_text("zeta eta theta iota kappa\n" * 25, encoding="utf-8")
    eng.index(str(corpus), chunk_size=120, append=True)
    new = eng.chunks().filter("source LIKE '%c.log'").orderBy("chunk_id").first()
    # the deterministic embedder hashes whole texts: asking with a chunk's
    # own text puts that chunk first (cosine 1.0)
    ans = eng.ask(new["document"])
    assert f"Context:\nFile: {new['source']} (chunk {new['chunk_index']})\n" in ans
    left = set(jsc.getPersistentRDDs().keys()) - before
    assert len(left) == 1 and left != first
