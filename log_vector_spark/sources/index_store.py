"""Persisted, partition-pruned batch index stores (the write-time /
query-time split for the ANN families).

The reference builds its index once at ingest and every query reads the
persisted artifact (reference index.py:434 persists the HNSW collection;
ask.py only queries it).  The batch ANN queries previously recomputed
their artifacts inline per query — correct, but it priced the write-time
build into every query and hid the partition-pruned read the layouts were
designed for.  This module persists each family's artifacts once per
(sf_dir, kind) and serves queries from the store:

* **IVF**: vectors + list assignment PARTITIONED BY list_id, plus the
  centroid table.  Query-time probe selection collects the nprobe list
  ids from the bounded centroid table (index metadata — the coarse
  quantizer FAISS keeps in RAM; O(sqrt N) rows, same driver-literal idiom
  as the LSH signature) so the list filter is LITERAL and reaches the
  scan as PartitionFilters: the query reads nprobe/nlists of the files.
* **IVF-PQ**: the 4-bit residual code table PARTITIONED BY list_id, plus
  codebook and centroids.  Same literal probe; the pruned code scan joins
  a broadcast LUT and decimal-sums — zero float math per candidate.
* **graph**: the top-deg edge list and the node table (write-time
  artifacts of the navigable graph), read back by the same lazy beam
  search (search.knn_graph_beam) — per-query cost is the beam rounds
  only, never the IVF-blocked pair build.

Stores are built at most once per process per (sf_dir, kind) into a fresh
temp directory, removed when the process exits (no cross-process
staleness: a new process re-derives from the parquet inputs; at scale
these are real tables maintained by the streaming ingest —
run_stream_ivf_ingest already lands the identical IVF layout).  All
stored vector columns round-trip parquet bit-exactly (float/double
arrays), so stored-query results are byte-identical to the inline forms
and share their oracles.
"""

from __future__ import annotations

import decimal as _decimal
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from log_vector_spark.catalog import table
from log_vector_spark.functions.vector import cosine_to_query, dot_product, literal_vector
from log_vector_spark.operators import search
from log_vector_spark.operators.search import SCORE_DP
from log_vector_spark.session import observed, session_tempdir

_CACHE: dict[tuple[str, str], str] = {}

# Explicit read schemas: a PARTITIONED write of an empty frame lands only
# _SUCCESS (no data files), and schema inference on the read-back throws —
# the empty-partition case every store meets at scale.  With the schema
# stated, an empty store reads as an empty frame and every query degrades
# to empty results instead of failing (pinned by the empty-corpus sweep).
_VECTORS_SCHEMA = "vec_id long, embedding array<float>, label int, list_id bigint"
_CENTROIDS_SCHEMA = "list_id bigint, centroid array<float>"
# per-list population, computed at BUILD time (index health is write-time
# metadata: the counts are one extra tiny aggregate over the partition
# column of the version just written — while computing them at
# monitor time means scanning n_lists partition dirs per tick, which is
# file-count-bound, not data-bound: measured 3.9x/decade before this
# artifact existed, r10)
_SIZES_SCHEMA = "list_id bigint, n bigint"
_CODES_SCHEMA = "vec_id long, subspace int, code_id int, list_id bigint"
_CODEBOOK_SCHEMA = "subspace int, code_id int, center array<double>"


def _ensure(spark: SparkSession, sf_dir: str, kind: str, builder) -> str:
    key = (os.path.abspath(sf_dir), kind)
    path = _CACHE.get(key)
    if path is not None and os.path.exists(os.path.join(path, "_BUILT")):
        return path
    path = session_tempdir(f"lvs_{kind}_store_")
    builder(spark, sf_dir, path)
    with open(os.path.join(path, "_BUILT"), "w") as fh:
        fh.write(kind)
    _CACHE[key] = path
    return path


# ---------------------------------------------------------------- IVF ----


def _write_sizes(spark: SparkSession, vectors_path: str, sizes_path: str) -> dict:
    """Write the per-list sizes of the vectors just written to
    ``vectors_path`` (a partition-column aggregate of that version) and
    return the totals that rode on the write: ``nv`` vectors in ``nl``
    lists."""
    sizes_obs = Observation()
    vecs = spark.read.schema(_VECTORS_SCHEMA).parquet(vectors_path)
    vecs.groupBy("list_id").agg(F.count(F.lit(1)).cast("bigint").alias("n")).observe(
        sizes_obs,
        F.coalesce(F.sum("n"), F.lit(0)).alias("nv"),
        F.count(F.lit(1)).alias("nl"),
    ).coalesce(1).write.mode("overwrite").parquet(sizes_path)
    return observed(sizes_obs, lambda: {"nv": 0, "nl": 0})


def _stored_sizes(snap: dict[str, str]) -> list[int] | None:
    """Vectors per list of a store version, from its sizes table (one row
    per list), or None for a legacy store written before that table.

    The table is one small file of index metadata on the store's local
    file system (the pointer file next to it is read with open()), so the
    driver reads it directly: no Spark job for a bounded metadata read."""
    import pyarrow.parquet as pq

    if not os.path.exists(snap["sizes"]):
        return None
    return pq.read_table(snap["sizes"], columns=["n"]).column("n").to_pylist()


def _build_ivf(spark: SparkSession, sf_dir: str, path: str) -> None:
    from log_vector_spark.functions.argmin import centroid_frame, ivf_assign_arrow

    emb = table(spark, "embeddings", sf_dir)
    pick = search.make_centroids(emb)
    lid_type = pick.schema["list_id"].dataType
    # the stride pick is bounded index metadata (~sqrt N rows): collected
    # once, it is both the assignment's quantizer and the centroid table
    # written below
    rows = pick.collect()
    cents = centroid_frame(
        spark,
        [r[0] for r in rows],
        [r[1] for r in rows],
        lid_type,
        pick.schema["centroid"].dataType.elementType,
    )
    assigned = ivf_assign_arrow(emb, rows, lid_type)
    # one shuffle by the partition column before the write (the
    # sources/store.py index_incremental discipline): without it every
    # task writes a sliver into every list dir — n_tasks x n_lists small
    # files (measured 3,134 files for this store at sf0.1; the listing
    # cost then dominates every later snapshot read and the build itself)
    (
        assigned.select("vec_id", "embedding", "label", "list_id")
        .repartition(F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(os.path.join(path, "vectors"))
    )
    # bounded index metadata (sqrt-N rows): one file, not one per task
    cents.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    _write_sizes(spark, os.path.join(path, "vectors"), os.path.join(path, "sizes"))


def ensure_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "ivf", _build_ivf)


def _build_ivf_drift(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Frozen-quantizer store for the drift MONITOR: coarse quantizer
    trained on the older half of the corpus (the streaming ingest's
    frozen-centroid posture), every vector assigned under it at write
    time.  The recurring drift report then reads the stored (vec_id,
    list_id) assignment and scores each vector against ITS OWN centroid —
    a linear scan + broadcast join on list_id — instead of re-running the
    N·k argmax quantization per monitor tick (VERDICT r8 item 3)."""
    from log_vector_spark.catalog import cached_count

    emb = table(spark, "embeddings", sf_dir)
    half = cached_count(emb) // 2
    cents = search.make_centroids(emb.filter(F.col("vec_id") < half)).localCheckpoint(
        eager=True
    )
    assigned = search.ivf_assign(emb, cents)
    # UNPARTITIONED on purpose: the monitor always scans every list, so a
    # list_id directory level buys no pruning and costs ~n_lists x files
    # of listing/scheduling per tick (measured 4.1x/decade partitioned vs
    # ~linear flat); list_id stays as a data column, content identical to
    # the probe store's layout.
    (
        assigned.select("vec_id", "embedding", "label", "list_id")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "vectors"))
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def ensure_ivf_drift_store(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "ivf_drift", _build_ivf_drift)


def probe_list_ids(
    spark: SparkSession,
    store_root: str,
    query_vec: Sequence[float],
    nprobe: int,
    centroids_path: str | None = None,
) -> list[int]:
    """Driver-side coarse quantization: top-nprobe list ids as LITERALS.

    The centroid table is bounded index metadata (sqrt N rows — what FAISS
    holds in RAM as the coarse quantizer), so one bounded collect here buys
    a literal ``list_id IN (...)`` filter that prunes the partitioned store
    at the scan (PartitionFilters), instead of a join-shaped probe that
    must touch every file's footer.  Ties break to the lower list_id —
    identical to the inline knn_ivf probe and its oracle.

    Callers that also scan the vectors must pass ``centroids_path`` from a
    single resolve_ivf_snapshot call so the probe and the scan share one
    pinned version (see resolve_ivf_snapshot).
    """
    cents = spark.read.schema(_CENTROIDS_SCHEMA).parquet(
        centroids_path or resolve_ivf_artifact(store_root, "centroids")
    )
    rows = (
        cents.select(
            "list_id",
            F.round(cosine_to_query(F.col("centroid"), query_vec), SCORE_DP).alias("qscore"),
        )
        .orderBy(F.desc("qscore"), F.asc("list_id"))
        .limit(nprobe)
        .collect()
    )
    return [r.list_id for r in rows]


def knn_ivf_stored(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k from the persisted list_id-partitioned store.

    Identical results to search.knn_ivf (same centroids, same assignment,
    same exact scoring and ties — shares its oracle); the difference is the
    plan: the scan carries ``PartitionFilters: [list_id IN (...)]`` so only
    nprobe of the n_lists partitions are read, and no assignment work runs
    at query time.  tests/test_plans.py pins the pruned scan.
    """
    root = ensure_ivf_store(spark, sf_dir)
    # resolve the snapshot pointer ONCE: probe and scan must see the same
    # version even if a retrain swap lands mid-query (ADVICE r7)
    snap = resolve_ivf_snapshot(root)
    lists = probe_list_ids(
        spark, root, query_vec, nprobe, centroids_path=snap["centroids"]
    )
    vecs = spark.read.schema(_VECTORS_SCHEMA).parquet(snap["vectors"]).filter(
        F.col("list_id").isin(lists)
    )
    return (
        vecs.select(
            "vec_id",
            F.round(cosine_to_query(F.col("embedding"), query_vec), SCORE_DP).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


# ------------------------------------------------------------- IVF-PQ ----


def _build_ivfpq(spark: SparkSession, sf_dir: str, path: str) -> None:
    from log_vector_spark.operators import pq

    emb = table(spark, "embeddings", sf_dir)
    cents = search.make_centroids(emb).localCheckpoint(eager=True)
    res = pq.residual_frame(emb, cents).localCheckpoint(eager=True)
    codebook = pq.pq_codebook(res, vec_col="residual")
    codes = pq.pq_encode(res, codebook, vec_col="residual").join(
        res.select("vec_id", "list_id"), "vec_id"
    )
    # shuffle by the partition column first — see _build_ivf's note
    (
        codes.repartition(F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(os.path.join(path, "codes"))
    )
    codebook.repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebook")
    )
    cents.repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )


def ensure_ivfpq_store(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "ivfpq", _build_ivfpq)


def knn_ivfpq_stored(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ ADC top-k from the persisted code store.

    Identical scores to pq.knn_ivfpq (shares its oracle): the probed lists
    are chosen by the same (qscore desc, list_id asc) rule, the LUT is the
    same inner-product decomposition q·c_list + sum_j dot(q_j, center),
    and partial sums use the same DECIMAL(18,6) fixed point.  Query-time
    data-scaled work = one scan of the PRUNED (PartitionFilters on the
    literal probed list_ids) 4-bit code partitions joined to a broadcast
    512-row LUT — no residual computation, no encode, no float math per
    candidate.
    """
    root = ensure_ivfpq_store(spark, sf_dir)
    lists = probe_list_ids(spark, root, query_vec, nprobe)
    sub = dim // m
    q = literal_vector([float(x) for x in query_vec])
    cents = spark.read.schema(_CENTROIDS_SCHEMA).parquet(os.path.join(root, "centroids")).filter(
        F.col("list_id").isin(lists)
    )
    qlists = cents.select(
        "list_id",
        F.round(dot_product(q, F.col("centroid")), SCORE_DP)
        .cast("decimal(18,6)")
        .alias("qc"),
    )
    codebook = spark.read.schema(_CODEBOOK_SCHEMA).parquet(os.path.join(root, "codebook"))
    lut = qlists.crossJoin(F.broadcast(codebook)).select(
        "list_id",
        "subspace",
        "code_id",
        "qc",
        F.round(
            dot_product(F.col("center"), F.slice(q, F.col("subspace") * sub + 1, sub)),
            SCORE_DP,
        )
        .cast("decimal(18,6)")
        .alias("partial"),
    )
    codes = spark.read.schema(_CODES_SCHEMA).parquet(os.path.join(root, "codes")).filter(
        F.col("list_id").isin(lists)
    )
    scored = (
        codes.join(F.broadcast(lut), ["list_id", "subspace", "code_id"])
        .groupBy("vec_id")
        .agg((F.first("qc") + F.sum("partial")).cast("double").alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


# --------------------------------------------------------------- graph ----

GRAPH_DEG = 8


def _build_graph(spark: SparkSession, sf_dir: str, path: str) -> None:
    emb = table(spark, "embeddings", sf_dir)
    cents = search.make_centroids(emb).localCheckpoint(eager=True)
    edges = search.knn_graph_edges(emb, cents, deg=GRAPH_DEG)
    edges.write.mode("overwrite").parquet(os.path.join(path, "edges"))
    emb.write.mode("overwrite").parquet(os.path.join(path, "nodes"))
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def ensure_graph_store(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "graph", _build_graph)


def knn_graph_stored(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = 5,
    beam: int = 8,
    rounds: int = 3,
) -> DataFrame:
    """Graph-ANN beam search over the PERSISTED edge/node artifacts.

    Same beam algorithm, seeds, and tie-breaking as search.knn_graph_beam
    (shares the knn_graph oracle); the IVF-blocked pair build never runs —
    the query only pays seeds + rounds of broadcast-probed frontier joins
    against the stored edge and node tables, which is the amortized cost a
    resident engine pays per query once the graph artifact exists.
    """
    root = ensure_graph_store(spark, sf_dir)
    edges = spark.read.parquet(os.path.join(root, "edges"))
    nodes = spark.read.parquet(os.path.join(root, "nodes"))
    cents = spark.read.parquet(os.path.join(root, "centroids"))
    return search.knn_graph_beam(
        nodes,
        query_vec,
        k=k,
        beam=beam,
        rounds=rounds,
        deg=GRAPH_DEG,
        centroids=cents,
        edges=edges,
    )


# -------------------------------------------------------------- binary ----

_BCODES_SCHEMA = "vec_id long, bcode array<bigint>"


def _build_binary(spark: SparkSession, sf_dir: str, path: str) -> None:
    from log_vector_spark.operators import binquant

    emb = table(spark, "embeddings", sf_dir)
    codes = emb.select(
        "vec_id", binquant.sign_pack(F.col("embedding"), 64).alias("bcode")
    )
    codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))


def ensure_binary_store(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "binary", _build_binary)


def knn_binary_stored(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """Binary two-stage k-NN from the persisted sign-code store.

    Identical results to binquant.knn_binary (same pack, same Hamming
    ties, same rescore — shares its oracle); the difference is WHAT THE
    SHORTLIST SCAN READS: the stored code table's ReadSchema is
    (vec_id, bcode) — 16 bytes of code instead of 256 bytes of float per
    vector, the 16x I/O saving that makes the binary rung pay at 100 TB.
    The float table is touched only by the broadcast-joined shortlist
    (<= `shortlist` rows).  tests/test_binquant.py pins the ReadSchema.
    """
    from log_vector_spark.operators import binquant

    root = ensure_binary_store(spark, sf_dir)
    codes = spark.read.schema(_BCODES_SCHEMA).parquet(os.path.join(root, "codes"))
    qcode = F.array(
        *[F.lit(int(w)).cast("long") for w in binquant.sign_pack_py(query_vec)]
    )
    short = (
        codes.select(
            "vec_id", binquant.hamming_distance(F.col("bcode"), qcode).alias("hamming")
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(shortlist)
    )
    emb = table(spark, "embeddings", sf_dir)
    rescored = emb.join(F.broadcast(short), "vec_id").select(
        "vec_id",
        "hamming",
        F.round(cosine_to_query(F.col("embedding"), query_vec), SCORE_DP).alias("score"),
    )
    return rescored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


_BIVF_CODES_SCHEMA = "vec_id long, bcode array<bigint>, list_id bigint"


def _build_binary_ivf(spark: SparkSession, sf_dir: str, path: str) -> None:
    from log_vector_spark.operators import binquant

    emb = table(spark, "embeddings", sf_dir)
    cents = search.make_centroids(emb).localCheckpoint(eager=True)
    assigned = search.ivf_assign(emb, cents)
    codes = assigned.select(
        "vec_id", binquant.sign_pack(F.col("embedding"), 64).alias("bcode"), "list_id"
    )
    # shuffle by the partition column first — see _build_ivf's note
    codes.repartition(F.col("list_id")).write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(os.path.join(path, "codes"))
    cents.repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )


def ensure_binary_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "binary_ivf", _build_binary_ivf)


def knn_binary_ivf_stored(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = 5,
    shortlist: int = 50,
    nprobe: int = 4,
) -> DataFrame:
    """Binary Hamming shortlist INSIDE the probed IVF lists, from the
    list_id-partitioned code store (the layout run_stream_binary_ingest
    maintains): the two cheap filters compose — partition pruning drops
    (n_lists - nprobe)/n_lists of the files before the scan starts, and
    the surviving scan reads 16-byte codes, not 256-byte floats.  At
    100 TB that is nprobe/n_lists of 1/16th of the corpus bytes per
    query, before the bounded rescore.  Exact cosine re-ranks the
    shortlist as always.  tests/test_binquant.py pins PartitionFilters
    on the code scan.
    """
    from log_vector_spark.operators import binquant

    root = ensure_binary_ivf_store(spark, sf_dir)
    lists = probe_list_ids(spark, root, query_vec, nprobe)
    codes = spark.read.schema(_BIVF_CODES_SCHEMA).parquet(
        os.path.join(root, "codes")
    ).filter(F.col("list_id").isin(lists))
    qcode = F.array(
        *[F.lit(int(w)).cast("long") for w in binquant.sign_pack_py(query_vec)]
    )
    short = (
        codes.select(
            "vec_id", binquant.hamming_distance(F.col("bcode"), qcode).alias("hamming")
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(shortlist)
    )
    emb = table(spark, "embeddings", sf_dir)
    rescored = emb.join(F.broadcast(short), "vec_id").select(
        "vec_id",
        "hamming",
        F.round(cosine_to_query(F.col("embedding"), query_vec), SCORE_DP).alias("score"),
    )
    return rescored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


# ---------------------------------------------------------- BM25 postings ----

_POSTINGS_SCHEMA = "doc_id long, dl long, term string, tf long, term_bucket bigint"
_BM25_STATS_SCHEMA = "n bigint, sumlen bigint"
BM25_TERM_BUCKETS = 16


def _term_bucket_col(term) -> F.Column:
    return (
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long")
        % BM25_TERM_BUCKETS
    )


def term_bucket_py(term: str) -> int:
    """Driver-side twin of _term_bucket_col for literal pruning filters."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % BM25_TERM_BUCKETS


def postings_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, dl, term, tf, term_bucket) posting rows for a document
    frame — the per-batch transform shared by the batch store build and the
    streaming ingest."""
    from log_vector_spark.functions.text import tokens

    d = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    dl = d.select("doc_id", F.size("w").cast("long").alias("dl"), "w")
    return (
        dl.select("doc_id", "dl", F.explode("w").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .withColumn("term_bucket", _term_bucket_col(F.col("term")))
    )


def corpus_stats_row(docs: DataFrame) -> DataFrame:
    """1-row (n, sumlen) over ALL docs — token-less docs count toward n."""
    from log_vector_spark.functions.text import tokens

    return docs.select(
        F.size(tokens(F.col("text"))).cast("long").alias("dl")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("sumlen"),
    )


def _build_bm25(spark: SparkSession, sf_dir: str, path: str) -> None:
    docs = table(spark, "documents", sf_dir)
    corpus_stats_row(docs).repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, "stats")
    )
    # shuffle by the partition column first — see _build_ivf's note
    (
        postings_from_docs(docs)
        .repartition(F.col("term_bucket"))
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(os.path.join(path, "postings"))
    )


def ensure_bm25_store(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "bm25", _build_bm25)


def bm25_stored(
    spark: SparkSession,
    sf_dir: str,
    terms: Sequence[str],
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """BM25 top-k served from the persisted term_bucket-partitioned
    posting-list store — the inverted-index form of bm25_topk, and the
    text-retrieval member of the stored-index family (reference
    index.py:434's write-time index semantics, applied to lexical search).

    The inline form (rerank.bm25_topk) scans the corpus twice per query;
    this form's query-time reads are PRUNED: the literal
    ``term_bucket IN (...)`` filter (buckets computed driver-side from the
    query terms, the probe_list_ids idiom) reaches the scan as
    PartitionFilters, so the query touches at most |terms| of the
    BM25_TERM_BUCKETS partitions and never the raw text.  df per term is
    an aggregate over the SAME pruned posting rows (a term's full posting
    list lives in exactly one bucket), corpus stats (n, sumlen) are a
    persisted 1-row table, and the per-doc score pivots posting rows back
    into per-term tf columns so rerank.bm25_score_expr builds the
    IDENTICAL double-expression tree as the inline form — bit-identical
    scores.

    Posting semantics, structurally: only documents containing >= 1 query
    term appear (exactly the score > 0 set — the +1-smoothed idf is always
    positive).  At 100 TB the postings are the write-time artifact a
    streaming ingest maintains per batch (the run_stream_ivf_ingest
    layout), and term skew is absorbed by the bucket hash.
    """
    from log_vector_spark.operators import rerank

    k1 = rerank.BM25_K1 if k1 is None else k1
    b = rerank.BM25_B if b is None else b
    root = ensure_bm25_store(spark, sf_dir)
    buckets = sorted({term_bucket_py(t) for t in terms})
    post = (
        spark.read.schema(_POSTINGS_SCHEMA)
        .parquet(os.path.join(root, "postings"))
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
    )
    stats = spark.read.schema(_BM25_STATS_SCHEMA).parquet(os.path.join(root, "stats"))
    return bm25_topk_from_postings(post, stats, terms, k, k1, b)


def bm25_topk_from_postings(
    post: DataFrame,
    stats: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """Score a pre-filtered posting relation (doc_id, dl, term, tf) against
    a 1-row stats relation (n, sumlen) — shared by the batch store query
    and the streaming-ingested store (streaming/pipeline.py:
    run_stream_bm25_ingest), so both serve bit-identical BM25 scores via
    rerank.bm25_score_expr."""
    from log_vector_spark.operators import rerank

    k1 = rerank.BM25_K1 if k1 is None else k1
    b = rerank.BM25_B if b is None else b
    per_doc = post.groupBy("doc_id", "dl").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
            ).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ]
    )
    dfs = post.groupBy().agg(
        *[
            F.sum((F.col("term") == t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ]
    )
    j = per_doc.crossJoin(F.broadcast(dfs)).crossJoin(F.broadcast(stats))
    scored = j.select(
        "doc_id", rerank.bm25_score_expr(len(terms), k1, b).alias("score")
    )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        "doc_id", "score", F.row_number().over(w).cast("int").alias("rank")
    )


# ------------------------------------------------------- positional ----


def positional_postings_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, term, pos, term_bucket) positional posting rows — the
    phrase-query extension of postings_from_docs: pos is the 0-based index
    in the filtered token stream, so adjacency (pos_b = pos_a + 1) means
    the words were consecutive in the document."""
    from log_vector_spark.functions.text import tokens

    d = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    return (
        d.select("doc_id", F.posexplode("w").alias("pos", "term"))
        .withColumn("term_bucket", _term_bucket_col(F.col("term")))
    )


def _build_phrase(spark: SparkSession, sf_dir: str, path: str) -> None:
    docs = table(spark, "documents", sf_dir)
    (
        positional_postings_from_docs(docs)
        .repartition(F.col("term_bucket"))
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(os.path.join(path, "postings"))
    )


def ensure_phrase_store(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "phrase", _build_phrase)


def phrase_search_stored(
    spark: SparkSession,
    sf_dir: str,
    phrase: Sequence[str] = ("table", "scan"),
) -> DataFrame:
    """Exact phrase search over the positional posting store: each phrase
    term reads ONLY its md5 term_bucket partitions (PartitionFilters, the
    bm25_stored pruning discipline — at 16 buckets a 2-word phrase touches
    <= 2/16 of the index regardless of corpus size), then consecutive
    terms join per doc on pos_{i+1} = pos_i + 1.  The join chain is keyed
    (doc_id, pos): candidates are bounded by the SPARSEST term's posting
    list, never the corpus.  Returns (doc_id, n_occurrences) for docs
    containing the phrase at least once.

    This is the positional half a lexical index needs beyond BM25's
    bag-of-words scoring (Manning et al., IIR ch. 2 positional postings);
    the reference engine has no lexical index at all (its only query path
    is dense retrieval, reference ask.py:200-203).
    """
    path = ensure_phrase_store(spark, sf_dir)
    buckets = sorted({term_bucket_py(t) for t in phrase})
    # explicit schema: an empty corpus writes a row-less store and schema
    # inference would fail (the store.py empty-corpus rule)
    post = (
        spark.read.schema("pos int, term string, doc_id long, term_bucket int")
        .parquet(os.path.join(path, "postings"))
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(list(phrase)))
    )
    first = post.filter(F.col("term") == phrase[0]).select("doc_id", F.col("pos").alias("p0"))
    cur = first
    for i, t in enumerate(phrase[1:], start=1):
        nxt = post.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        cur = cur.join(nxt, ["doc_id", "p0"])
    return cur.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))


# --------------------------------------------- IVF offline retrain job ----
#
# Every IVF-family docstring defers to "a real deployment re-trains
# centroids offline and rewrites the store when recall degrades" — this is
# that job.  Snapshot protocol is write_chunks_versioned's (store.py):
# write a COMPLETE new version (vectors_v{N} + centroids_v{N}), atomically
# repoint a 1-line meta file, clean past retention.  Readers resolve the
# pointer first (falling back to the legacy flat layout), so a query that
# started on version N keeps scanning an immutable N while N+1 lands.

import json as _json


def _ivf_meta_path(store_root: str) -> str:
    return os.path.join(store_root, "_current.json")


def resolve_ivf_snapshot(store_root: str) -> dict[str, str]:
    """Pin ONE store version: a single read of the pointer file yields the
    paths of BOTH artifacts (vectors + centroids) of that version.

    Queries must resolve through this (not per-artifact) — resolving the
    pointer twice lets a concurrent retrain_ivf_store swap land between
    the two reads, probing version-N centroids against version-N+1
    vectors, whose list partitioning belongs to a different quantizer
    (ADVICE r7).  Falls back to the legacy flat layout when the store has
    never been retrained.
    """
    mp = _ivf_meta_path(store_root)
    names = ("vectors", "centroids", "sizes")
    if os.path.exists(mp):
        with open(mp) as fh:
            v = _json.load(fh)["version"]
        return {n: os.path.join(store_root, f"{n}_v{v}") for n in names}
    return {n: os.path.join(store_root, n) for n in names}


def resolve_ivf_artifact(store_root: str, name: str) -> str:
    """Path of the live `vectors` / `centroids` artifact: pointer-resolved
    when the store has been retrained, legacy flat path otherwise.

    Single-artifact convenience — a query touching both artifacts must use
    :func:`resolve_ivf_snapshot` so both resolve to the SAME version.
    """
    return resolve_ivf_snapshot(store_root)[name]


def retrain_ivf_store(
    spark: SparkSession,
    store_root: str,
    iters: int = 2,
    keep_versions: int = 2,
) -> dict:
    """Re-train the coarse quantizer (k-means-refined centroids) over the
    CURRENT store content and rewrite the list-partitioned store as a new
    immutable version with an atomic pointer swap.

    The retrain reads the stored vectors (one full scan — write-time cost,
    same envelope as one IVF build), refines centroids with `iters`
    deterministic Lloyd rounds (search.make_centroids_kmeans: the exact
    builder the `ivf_kmeans_recall_at10` eval certifies against the stride
    pick), reassigns every vector, and writes vectors_v{N}/centroids_v{N}.
    Old versions beyond `keep_versions` are removed AFTER the swap — a
    reader that resolved the pointer pre-swap may still be scanning the
    previous version.  A crash before the swap leaves an unreferenced _v
    directory, never a torn store.

    The k-means TRAINING set is sample-bounded (FAISS posture: train the
    coarse quantizer on ~256·k sampled vectors, assign full) — at 100 TB
    the Lloyd rounds touch a bounded checkpointed sample, and only the
    final assignment + rewrite is a full scan.  The cap binds only above
    ~1M vectors (k ≈ 4·sqrt(N)), so at oracle scale factors training is
    still exact-full and the convergence oracle replays bit-identically;
    the assignment pass is exact GIVEN centroids at any scale.

    Returns {'version', 'n_vectors', 'n_lists_before', 'n_lists_after'}.

    The whole version-read -> write -> swap -> retention sequence runs
    under the snapshot module's O_EXCL maintainer lock (r10): two
    concurrent retrains would otherwise both read version N and both
    write _v{N+1}, the second clobbering the first mid-read — the same
    single-maintainer assumption gc_snapshots enforces.
    """
    import shutil as _shutil

    from log_vector_spark.sources.snapshot import _maintainer_lock

    with _maintainer_lock(store_root):
        return _retrain_ivf_store_locked(spark, store_root, iters, keep_versions)


def _retrain_ivf_store_locked(
    spark: SparkSession,
    store_root: str,
    iters: int,
    keep_versions: int,
) -> dict:
    import shutil as _shutil

    snap = resolve_ivf_snapshot(store_root)
    vecs = spark.read.schema(_VECTORS_SCHEMA).parquet(snap["vectors"])
    base = vecs.select("vec_id", "embedding", "label")
    # n_lists_before and n from the bounded sizes artifact (one row per
    # list): at 100 TB a scan for them is a corpus scan per retrain tick
    # (optimization guide §1.2: don't compute what metadata already
    # holds).  Legacy stores without a sizes table fall back to the scans.
    sizes = _stored_sizes(snap)
    if sizes is not None:
        n_lists_before, n = len(sizes), sum(sizes)
    else:
        from log_vector_spark.catalog import cached_count

        n_lists_before = vecs.select("list_id").distinct().count()
        n = cached_count(base)
    k_est = max(1, n // search.sqrt_stride(n))
    train_cap = 256 * k_est
    if n <= train_cap:
        # the whole corpus is within the training budget — checkpointing
        # it is exactly as bounded as checkpointing a sample would be, and
        # it keeps the Lloyd rounds + final assignment off the recompute
        # chain (r9 full window measured 26.9 s lazy vs ~15 s checkpointed
        # at sf0.1).  Above the cap the sample is checkpointed inside
        # make_centroids_kmeans instead and the corpus is never pinned.
        base = base.localCheckpoint(eager=True)
    # store the refined centroids in the store's float layout and ASSIGN
    # under that same float form — the quantizer queries read must be the
    # quantizer the assignment used, or probe/partition disagree.
    # make_centroids_kmeans returns an Arrow local relation, so neither
    # ivf_assign's collect nor the centroid write runs a Lloyd round again
    cents = search.make_centroids_kmeans(
        base, iters=iters, train_cap=train_cap, n=n
    ).select(
        "list_id",
        F.transform("centroid", lambda x: x.cast("float")).alias("centroid"),
    )
    assigned = search.ivf_assign(base, cents)

    mp = _ivf_meta_path(store_root)
    version = 0
    if os.path.exists(mp):
        with open(mp) as fh:
            version = _json.load(fh)["version"] + 1
    # shuffle by the partition column first — see _build_ivf's note
    (
        assigned.select("vec_id", "embedding", "label", "list_id")
        .repartition(F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(os.path.join(store_root, f"vectors_v{version}"))
    )
    cents.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(store_root, f"centroids_v{version}")
    )
    # return-dict stats ride on the sizes write (one row per list, derived
    # from the written vectors, so they certify the same content)
    stats = _write_sizes(
        spark,
        os.path.join(store_root, f"vectors_v{version}"),
        os.path.join(store_root, f"sizes_v{version}"),
    )
    tmp = mp + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump({"version": version}, fh)
    os.replace(tmp, mp)  # atomic swap
    live = {
        f"{n}_v{v}"
        for v in range(max(0, version - keep_versions + 1), version + 1)
        for n in ("vectors", "centroids", "sizes")
    }
    for d in os.listdir(store_root):
        if ("_v" in d and d.split("_v")[0] in ("vectors", "centroids", "sizes")
                and d not in live):
            _shutil.rmtree(os.path.join(store_root, d))
    return {
        "version": version,
        "n_vectors": stats["nv"],
        "n_lists_before": n_lists_before,
        "n_lists_after": stats["nl"],
    }


def maintain_ivf(
    spark: SparkSession,
    store_root: str,
    drift_threshold: float = 1.2,
    iters: int = 2,
    keep_versions: int = 2,
) -> dict:
    """The maintenance TICK that closes the IVF lifecycle loop: measure
    quantizer drift on the live store, retrain only when it exceeds the
    threshold.

    Drift statistic (the ivf_drift_report posture on the store's own
    stored assignment — one linear scan + broadcast centroid join, never
    an N·k re-assignment): per-vector quantization error qerr = 1 − cosine
    against the vector's OWN centroid, cohorted by vec_id order (newest
    half = arrival proxy vs oldest half = train proxy).  ``drift`` =
    mean_qerr(arrivals) / mean_qerr(train); a fresh quantizer reads ~1.0,
    a stale one grows as the distribution moves.  When drift >
    ``drift_threshold`` this calls :func:`retrain_ivf_store` (which takes
    the snapshot maintainer lock and swaps an immutable version).

    Returns {'drift', 'retrained', 'mean_qerr_train', 'mean_qerr_arrivals',
    and retrain_ivf_store's fields when a retrain ran}.  Idempotent per
    tick: two consecutive calls with no new data retrain at most once
    (the refreshed quantizer reads ~1.0 drift).

    Arithmetic is the ivf_drift_report contract exactly — qerr = 1 −
    round(cosine, 6), decimal(18,6)-summed cohort means rounded to 6dp,
    drift = the rounded ratio of the rounded means — so the tick is
    deterministic across partitionings and SQL-replayable (the registered
    maintain_ivf_tick query's oracle replays it closed-form).
    """
    from log_vector_spark.functions.vector import cosine_similarity

    snap = resolve_ivf_snapshot(store_root)
    vecs = spark.read.schema(_VECTORS_SCHEMA).parquet(snap["vectors"])
    cents = spark.read.schema(_CENTROIDS_SCHEMA).parquet(snap["centroids"])
    # half of the vectors, from the sizes table when the version has one
    sizes = _stored_sizes(snap)
    half = (
        sum(sizes) // 2
        if sizes is not None
        else vecs.groupBy().agg(F.floor(F.count(F.lit(1)) / 2).alias("h")).first()["h"]
    )
    qerr = F.round(
        1 - F.round(cosine_similarity(F.col("embedding"), F.col("centroid")), 6), 6
    )
    scored = vecs.join(F.broadcast(cents), "list_id").select(
        F.when(F.col("vec_id") < half, F.lit("train"))
        .otherwise(F.lit("arrivals"))
        .alias("cohort"),
        qerr.alias("qerr"),
    )
    means = {
        r["cohort"]: r["m"]
        for r in scored.groupBy("cohort")
        .agg(
            F.round(
                F.sum(F.col("qerr").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        .collect()
    }
    train = means.get("train") or 0.0
    arrivals = means.get("arrivals") or 0.0
    # HALF_UP, not Python's banker's rounding: SQL ROUND (the oracle's and
    # F.round's mode) rounds halves away from zero
    drift = (
        float(
            _decimal.Decimal(repr(arrivals / train)).quantize(
                _decimal.Decimal("1e-6"), rounding=_decimal.ROUND_HALF_UP
            )
        )
        if train > 0
        else 1.0
    )
    out = {
        "drift": drift,
        "mean_qerr_train": train,
        "mean_qerr_arrivals": arrivals,
        "retrained": False,
    }
    if drift > drift_threshold:
        info = retrain_ivf_store(
            spark, store_root, iters=iters, keep_versions=keep_versions
        )
        out.update(info)
        out["retrained"] = True
    return out
