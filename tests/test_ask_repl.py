"""tools/ask.py REPL semantics vs the reference main loop (ask.py:276-326):
blank lines skipped, exit words stop the loop, answers logged to markdown,
errors returned as strings without killing the loop.  The single-job
question path is pinned against the multi-query plan it replaced
(knn_batch_topk + join back + assemble_context) on degenerate stores."""

import io
import os
import shutil

import pytest

CHUNK_SCHEMA = (
    "chunk_id string, source string, chunk_index int, total_chunks int, "
    "document string, embedding array<double>"
)


@pytest.fixture()
def chunk_store(spark, tmp_path):
    from log_vector_spark.operators.embed import get_embedder
    from log_vector_spark.sources import store

    emb = get_embedder("deterministic")
    texts = ["spark shuffles data", "parquet stores columns", "joins need keys"]
    rows = [
        (f"s{i}:0:{i}", f"s{i}", i, 3, t, emb.embed_batch([t])[0])
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, CHUNK_SCHEMA)
    path = str(tmp_path / "store")
    store.write_chunks(df, path, mode="overwrite")
    return path


@pytest.mark.spark
def test_repl_end_to_end_with_echo(spark, chunk_store, tmp_path):
    from tools.ask import make_query_fn, repl

    log = str(tmp_path / "qa.md")
    query_fn = make_query_fn(spark, chunk_store)
    lines = ["", "   ", "what about shuffles?", "EXIT", "never reached"]
    out = io.StringIO()
    qa = list(repl(lines, query_fn, log_path=log, out=out))

    # blank lines skipped, EXIT stopped before the last line
    assert [q for q, _ in qa] == ["what about shuffles?"]
    ans = qa[0][1]
    # echo generator surfaces the assembled context: top-k hit text + the
    # 'File: {source} (chunk {i})' row format from Q2
    assert "what about shuffles?" in ans
    assert "File: s" in ans and "(chunk " in ans
    # markdown log written with the reference's Q/A block shape
    text = open(log).read()
    assert text.startswith("# Q&A Log")
    assert "**Q:** what about shuffles?" in text


def test_repl_survives_query_errors(tmp_path):
    from tools.ask import repl

    def boom(_q):
        raise RuntimeError("backend down")

    def query_fn(q):
        try:
            return boom(q)
        except Exception as e:  # noqa: BLE001
            return f"Error generating answer: {e}"

    out = io.StringIO()
    qa = list(repl(["first", "quit"], query_fn, log_path=None, out=out))
    assert qa == [("first", "Error generating answer: backend down")]


def test_make_query_fn_hard_fails_on_missing_store(spark, tmp_path):
    from tools.ask import make_query_fn

    with pytest.raises(Exception):
        make_query_fn(spark, str(tmp_path / "nope"))


def _vec(text):
    from log_vector_spark.operators.embed import get_embedder

    return get_embedder("deterministic").embed_batch([text])[0]


def _write_store(spark, path, rows, partitioned=True):
    from log_vector_spark.sources import store

    df = spark.createDataFrame(rows, CHUNK_SCHEMA)
    store.write_chunks(df, path, mode="overwrite", partition_col="source" if partitioned else None)
    return path


def _old_plan_answer(spark, store_path, question):
    """The replaced question path: multi-query top-k, join back to the
    store for the text, distributed context assembly."""
    from log_vector_spark.operators.rag import answer, assemble_context
    from log_vector_spark.operators.search import knn_batch_topk
    from log_vector_spark.sources.store import read_chunks
    from tools.ask import TOP_K

    chunks = read_chunks(spark, store_path)
    qdf = spark.createDataFrame([(0, _vec(question))], "query_id int, query_vec array<double>")
    hits = knn_batch_topk(chunks, qdf, k=TOP_K, vec_id="chunk_id", vec_col="embedding")
    row = assemble_context(
        hits.join(chunks, "chunk_id").select("rank", "source", "chunk_index", "document")
    ).first()
    return answer(question, row["context"] if row and row["context"] else "")


QUESTIONS = ("spark shuffles data", "parquet stores columns")


def _degenerate_rows(case):
    a, b = (_vec(q) for q in QUESTIONS)
    if case == "tied_scores":
        # two groups of identical vectors, ids out of insertion order:
        # the k-th place falls inside a tie, broken by chunk_id
        ids = ["c7", "c3", "c5", "c1", "c6", "c2", "c4", "c0"]
        return [
            (cid, f"f{i % 2}", i, 8, f"text {cid}", a if i < 4 else b)
            for i, cid in enumerate(ids)
        ]
    if case == "null_and_zero_vectors":
        return [
            ("n0", "f0", 0, 4, "null vector", None),
            ("z0", "f0", 1, 4, "zero vector", [0.0] * len(a)),
            ("a0", "f1", 0, 4, "first", a),
            ("b0", "f1", 1, 4, "second", b),
        ]
    if case == "null_source_and_document":
        return [
            ("s0", None, 0, 3, "no source", a),
            ("d0", "f0", 1, 3, None, a),
            ("b0", "f0", 2, 3, "kept", b),
        ]
    if case == "one_row":
        return [("only", "f0", 0, 1, "the only chunk", b)]
    assert case == "empty"
    return []


@pytest.mark.spark
@pytest.mark.parametrize(
    "case",
    ["tied_scores", "null_and_zero_vectors", "null_source_and_document", "one_row", "empty"],
)
def test_single_job_path_matches_old_plan(spark, tmp_path, case):
    from tools.ask import make_query_fn

    # an empty partitioned write lands no data file, so the empty store
    # is written unpartitioned (one schema-only file)
    path = _write_store(
        spark, str(tmp_path / "store"), _degenerate_rows(case), partitioned=case != "empty"
    )
    query_fn = make_query_fn(spark, path)
    for q in QUESTIONS:
        got = query_fn(q)
        assert not got.startswith("Error generating answer"), got
        assert got == _old_plan_answer(spark, path, q)


@pytest.mark.spark
def test_one_job_per_warm_question(spark, chunk_store):
    from tools.ask import make_query_fn

    sc = spark.sparkContext
    query_fn = make_query_fn(spark, chunk_store)
    query_fn("warm-up")  # the first question also fills the cached relation
    try:
        for i in range(3):
            group = f"ask-one-job-{i}"
            sc.setJobGroup(group, "one question")
            query_fn(f"question {i}")
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.spark
def test_overwritten_store_is_reread(spark, tmp_path):
    from tools.ask import make_query_fn

    a, b = (_vec(q) for q in QUESTIONS)
    path = _write_store(
        spark,
        str(tmp_path / "store"),
        [("old0", "old", 0, 2, "old text", a), ("old1", "old", 1, 2, "old b", b)],
    )
    query_fn = make_query_fn(spark, path)
    assert query_fn(QUESTIONS[0]) == _old_plan_answer(spark, path, QUESTIONS[0])

    # re-index from outside this session: Spark's own cache refresh on a
    # write never sees it, only the store's listing does
    _write_store(spark, str(tmp_path / "next"), [("new0", "new", 0, 1, "new text", a)])
    shutil.rmtree(os.path.join(path, "chunks"))
    shutil.move(str(tmp_path / "next" / "chunks"), os.path.join(path, "chunks"))
    got = query_fn(QUESTIONS[0])
    assert not got.startswith("Error generating answer"), got
    assert "new text" in got and "old text" not in got
    assert got == _old_plan_answer(spark, path, QUESTIONS[0])


def _question_plan(spark, query_fn, question):
    """The executed plan of one question's SQL execution, as the SQL status
    store recorded it, cut to the question's own operators (the nodes above
    the cached relation's scan)."""
    import re

    sc = spark.sparkContext
    label = "ask-plan-shape"
    sc.setJobDescription(label)
    try:
        query_fn(question)
    finally:
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).description() == label
    ]
    assert len(plans) == 1, plans
    # formatted explain: the node tree, then one "(id) Node" block per node
    tree, _, details = plans[0].partition("\n\n\n")
    own = set(re.findall(r"\((\d+)\)$", tree.split("InMemoryTableScan")[0], re.M))
    assert own, tree
    blocks = re.split(r"\n(?=\(\d+\) )", details)
    return "\n".join(b for b in blocks if re.match(r"\((\d+)\) ", b).group(1) in own)


@pytest.mark.spark
def test_warm_question_folds_only_the_dot_product(spark, chunk_store):
    """The row norm comes from the session cache and the query norm is a
    driver-side literal, so a question's projection runs one HOF fold."""
    from tools.ask import make_query_fn

    query_fn = make_query_fn(spark, chunk_store)
    query_fn("warm-up")
    plan = _question_plan(spark, query_fn, "which store holds columns?")
    assert "TakeOrderedAndProject" in plan and "zip_with(embedding" in plan
    assert plan.count("aggregate(") == 1, plan
    assert "SQRT(aggregate(transform(" not in plan, plan
