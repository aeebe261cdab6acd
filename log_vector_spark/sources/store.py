"""Chunk store + manifest (SURVEY §2.2 K1-K2, §2.1 S5-S6).

The reference's store is a ChromaDB collection destructively recreated on
every indexing run (reference index.py:426-434) even though its README
documents incremental indexing — a real discrepancy (SURVEY §2.2 note).
This store exposes BOTH semantics explicitly: mode="overwrite" (the
reference's actual behavior) and mode="append" (its documented intent).

Layout decisions for 100 TB:
* chunks are partitioned by a low-cardinality source prefix so per-source
  queries prune partitions at the parquet level;
* embeddings are stored as written (no write path normalizes them); the
  row norm a cosine needs is folded once per query session instead, as a
  column of the session cache (``CachedChunks``), so each question folds
  only the dot product;
* the manifest is a single-row JSON dataset next to the table (the
  reference's index_metadata.json, index.py:461-478), read back to
  auto-select the embedding backend at query time (reference ask.py:84-107
  hard-fails when missing — reproduced).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from log_vector_spark.functions.vector import l2_norm
from log_vector_spark.session import observed

CHUNKS_SCHEMA_COLS = ("chunk_id", "source", "chunk_index", "total_chunks", "document", "embedding")
NORM_COL = "embedding_norm"  # l2_norm(embedding), cached by CachedChunks


def write_chunks(
    chunks: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_col: str | None = "source",
) -> None:
    """K1: persist the chunk table.  `overwrite` reproduces the reference's
    delete-and-recreate (index.py:426-434); `append` implements the README's
    documented incremental semantics."""
    if mode not in ("overwrite", "append"):
        raise ValueError("mode must be 'overwrite' or 'append'")
    if partition_col and partition_col in chunks.columns:
        # shuffle by the partition column so each source dir gets one
        # file per write, not one per upstream task; the exchange sits
        # ABOVE the chunk/embed projections, so their parallelism is kept
        chunks = chunks.repartition(F.col(partition_col))
    writer = chunks.write.mode(mode)
    if partition_col and partition_col in chunks.columns:
        writer = writer.partitionBy(partition_col)
    writer.parquet(os.path.join(path, "chunks"))


def upsert_chunks(
    chunks: DataFrame,
    path: str,
    id_col: str = "chunk_id",
    partition_col: str | None = "source",
) -> int:
    """Idempotent incremental ingestion: append only rows whose id is not
    already stored (anti-join against the existing table's id column).

    This is the exactly-once point for a growing corpus — re-running the
    same indexing job adds nothing, matching what foreachBatch needs on
    stream retries.  At 100 TB the existing side reads ONLY the id column
    (column pruning) and, when the store is partitioned on the same key the
    new batch arrives by, partition pruning bounds the anti-join to the
    touched partitions.  Returns the number of rows appended.  (An
    append of no rows writes no file into a partitioned store, and one
    schema-only file into an unpartitioned one.)
    """
    from pyspark.errors import AnalysisException

    spark = chunks.sparkSession
    target = os.path.join(path, "chunks")
    try:
        # the id column is read with the batch's own type declared: no
        # schema-inference job, and a store with no data file reads empty
        existing_ids = (
            spark.read.schema(T.StructType([chunks.schema[id_col]])).parquet(target).select(id_col)
        )
    except AnalysisException as e:
        # ONLY a missing store means first write; any other read failure
        # (corrupt footer, permissions, transient IO) must raise — treating
        # it as first-write would append the whole batch again and break
        # the idempotent-ingestion promise with duplicate chunk_ids.
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        existing_ids = None
    fresh = chunks if existing_ids is None else chunks.join(existing_ids, id_col, "left_anti")
    # the appended count rides on the write, so the batch is decoded once.
    # Every observed row reaches the stage output, so a lost observe
    # (session.observed) means nothing was appended.
    appended = Observation()
    write_chunks(
        fresh.observe(appended, F.count(F.lit(1)).alias("n")),
        path,
        mode="append",
        partition_col=partition_col,
    )
    return observed(appended, lambda: {"n": 0})["n"]


def read_chunks(spark: SparkSession, path: str) -> DataFrame:
    """S5: load the chunk table; hard error if absent (reference ask.py:66-82)."""
    return spark.read.parquet(os.path.join(path, "chunks"))


def _chunks_listing(path: str) -> tuple[tuple[str, int, int], ...]:
    """(path, size, mtime_ns) of every file under the chunk table, sorted.

    Driver-side os.walk/os.stat, no Spark job, so the store must be on a
    local or mounted file system.  Any write to the table (overwrite,
    append, compaction) adds, removes or rewrites a file, so the listing
    changes; a missing table lists as ().
    """
    out = []
    for root, _dirs, files in os.walk(os.path.join(path, "chunks")):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            out.append((full, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


class CachedChunks:
    """A session's column-pruned view of one chunk store, read once and
    kept in executor memory until the store changes on disk (the session
    reuse of the EDBT 2020 incremental top-k framework: an interactive
    session asks many questions of one store).

    ``get()`` compares the store's listing with the one the cached
    relation was read from; on a change it unpersists the old relation
    and re-reads the store.  MEMORY_ONLY keeps the cache inside Spark's
    storage pool: blocks that do not fit are recomputed from parquet, so a
    store larger than memory costs one scan per use and no local-disk
    copy.  Construction reads the store, so a missing store fails there.

    Next to ``cols`` the relation carries ``NORM_COL``, the embedding's
    ``l2_norm`` folded once per cache fill (8 bytes next to a 512-byte
    vector): it depends only on the store, so a question that passes it
    to ``knn_topk(norm_col=...)`` folds only the dot product per row.
    """

    def __init__(self, spark: SparkSession, path: str, cols: Sequence[str]):
        self.spark, self.path, self.cols = spark, path, tuple(cols)
        self._key = None
        self._df = None
        self.get()

    def get(self) -> DataFrame:
        key = _chunks_listing(self.path)
        if key != self._key:
            # unpersist first: the re-read plan equals the old one (same
            # root path), so persisting it first would adopt the old data
            if self._df is not None:
                self._df.unpersist()
                self._df = self._key = None
            df = read_chunks(self.spark, self.path).select(
                *self.cols, l2_norm(F.col("embedding")).alias(NORM_COL)
            )
            self._df, self._key = df.persist(StorageLevel.MEMORY_ONLY), key
        return self._df


def write_manifest(
    spark: SparkSession,
    path: str,
    repository: str,
    embedding_type: str,
    embedding_model: str,
    chunk_size: int,
) -> None:
    """K2: single-row manifest (reference index.py:461-478 field set),
    built as an Arrow local relation so its write is the only job."""
    import pyarrow as pa

    row = {
        "indexed_at": datetime.now(timezone.utc).isoformat(),
        "repository": repository,
        "embedding_type": embedding_type,
        "embedding_model": embedding_model,
        "chunk_size": chunk_size,
        "chunks_path": os.path.join(path, "chunks"),
    }
    schema = pa.schema(
        [(k, pa.int32() if k == "chunk_size" else pa.string()) for k in row]
    )
    df = spark.createDataFrame(pa.Table.from_pylist([row], schema=schema))
    df.coalesce(1).write.mode("overwrite").json(os.path.join(path, "manifest"))


def read_manifest(spark: SparkSession, path: str) -> dict:
    """S6: parse the manifest; raise when missing/invalid like the reference
    (ask.py:96-107) so a query side never silently guesses the embedder."""
    try:
        rows = spark.read.json(os.path.join(path, "manifest")).collect()
    except Exception as e:  # noqa: BLE001
        raise FileNotFoundError(f"manifest missing/unreadable under {path}") from e
    if not rows:
        raise FileNotFoundError(f"manifest empty under {path}")
    m = rows[0].asDict()
    if not m.get("embedding_type"):
        raise ValueError("manifest missing embedding_type")
    return m


def quantize_for_store(chunks: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """int8 storage form: (codes array<tinyint>, scale) replaces the float
    vector — a 4x cut on the dominant column of a 100 TB store.

    Symmetric per-vector quantization (scale = max|x|/127, code =
    floor(x/scale + 0.5)); the audited reconstruction quality for this
    scheme is pinned by the `embedding_quantization` query + its pytest
    floor (cosine >= 0.999 at 64 dims).  `dequantize_embedding` restores
    array<double> for scoring; exact/rerank paths can keep a float copy of
    the candidate subset only.  Zero vectors keep scale 0 and all-zero
    codes (dequantize returns the zero vector, matching the embed-error
    sentinel).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = (
        F.aggregate(F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: F.greatest(a, x))
        / F.lit(127.0)
    )
    out = chunks.withColumn("_scale", scale)
    codes = F.when(
        F.col("_scale") > 0,
        F.transform(v, lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return (
        out.withColumn("embedding_q", codes)
        .withColumnRenamed("_scale", "embedding_scale")
        .drop(vec_col)
    )


def dequantize_embedding(codes_col: str = "embedding_q", scale_col: str = "embedding_scale"):
    """codes + scale -> array<double> column for scoring."""
    return F.transform(F.col(codes_col), lambda c: c.cast("double") * F.col(scale_col))


def quantize_int4_for_store(chunks: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """int4 storage form: two 4-bit codes nibble-packed per byte plus a
    per-vector scale — an 8x cut on the code column (6.4x end-to-end with
    the 8-byte scale at 64 dims), the rung between int8 (4x, ~exact) and
    binary (16x, Hamming prefilter only).

    Symmetric per-vector quantization at 4 bits: scale = max|x|/7, code =
    floor(x/scale + 0.5) in [-7, 7].  Packing is REAL, not notional:
    byte_j = (code_{2j}+8)*16 + (code_{2j+1}+8) - 128 stays in tinyint
    range, so the stored column is array<tinyint> of CEIL(dim/2) bytes;
    odd dimensions pad the final low nibble with code 0 and the true
    dimension is carried in `embedding_dim4`, which
    `dequantize_int4_embedding` slices back to — so the round-trip is
    exact for ANY dim, not just even ones (pack/unpack is pure integer
    arithmetic — the oracle computes codes directly and any packing
    defect shows up as a value mismatch).  Zero vectors keep scale 0 /
    all-zero bytes, the embed-error sentinel contract of
    quantize_for_store.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = (
        F.aggregate(F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: F.greatest(a, x))
        / F.lit(7.0)
    )
    out = chunks.withColumn("_scale", scale)
    code = lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("int")  # noqa: E731
    codes = F.when(
        F.col("_scale") > 0, F.transform(v, code)
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    out = out.withColumn("_codes", codes)
    # ceil(dim/2) bytes; guard sequence's descending-on-empty footgun
    # (0-dim vectors).  For odd dims the final byte's low nibble is a
    # code-0 pad (out-of-range element_at is coalesced, never evaluated
    # past the array).
    half = F.when(
        F.size("_codes") >= 1,
        F.sequence(F.lit(0), F.ceil(F.size("_codes") / F.lit(2)).cast("int") - 1),
    ).otherwise(F.array().cast("array<int>"))
    lo = lambda j: F.when(  # noqa: E731
        (j * 2 + 2) <= F.size("_codes"),
        F.element_at(F.col("_codes"), (j * 2 + 2).cast("int")),
    ).otherwise(F.lit(0))
    packed = F.transform(
        half,
        lambda j: (
            (F.element_at(F.col("_codes"), (j * 2 + 1).cast("int")) + 8) * 16
            + (lo(j) + 8)
            - 128
        ).cast("tinyint"),
    )
    return (
        out.withColumn("embedding_q4", packed)
        .withColumn("embedding_dim4", F.size("_codes").cast("int"))
        .withColumnRenamed("_scale", "embedding_scale4")
        .drop("_codes", vec_col)
    )


def dequantize_int4_embedding(
    codes_col: str = "embedding_q4",
    scale_col: str = "embedding_scale4",
    dim_col: str | None = "embedding_dim4",
):
    """Packed nibbles + scale -> array<double>, unpacked BY INDEX: element
    i of the output reads byte ceil(i/2) and takes the hi nibble for odd i,
    lo for even, then sliced to the stored true dimension (``dim_col``) so
    an odd-dim vector's pad nibble never reappears.  The obvious
    flatten(transform(b -> array(hi, lo))) form allocates a 2-element
    array per byte inside an interpreted HOF and is re-evaluated once per
    consumer expression — measured ~40x slower at sf0.1 in knn_int4; the
    index form is scalar arithmetic per element with zero intermediate
    arrays."""
    codes = F.col(codes_col)

    def decode(i):
        b = F.element_at(codes, F.floor((i + 1) / 2).cast("int")).cast("int") + 128
        hi = F.floor(b / F.lit(16)) - 8
        lo = (b % 16) - 8
        return (
            F.when(i % 2 == 1, hi).otherwise(lo).cast("double") * F.col(scale_col)
        )

    unpacked = F.transform(F.sequence(F.lit(1), F.size(codes) * 2), decode)
    if dim_col is not None:
        unpacked = F.slice(unpacked, F.lit(1), F.col(dim_col))
    return F.when(F.size(codes) > 0, unpacked).otherwise(
        F.array().cast("array<double>")
    )


# ----------------------------------------------------- versioned store ----
#
# `write_chunks(mode="overwrite")` deletes-and-recreates in place (the
# reference's semantics) — fine single-writer/single-reader, but on an
# object store a concurrent reader mid-scan sees files vanish.  The
# versioned form gives SNAPSHOT ISOLATION with the same pointer-swap
# protocol as operators/maintenance.py's delta folding: write a complete
# new version directory, atomically repoint a 1-line meta file, clean up
# old versions past a retention count.  Readers resolve the pointer first,
# so they always scan one complete, immutable version; a crash leaves an
# unreferenced _v directory, never a torn table.

import json as _json


def _versions_meta_path(path: str) -> str:
    return os.path.join(path, "_current.json")


def write_chunks_versioned(
    chunks: DataFrame,
    path: str,
    partition_col: str | None = "source",
    keep_versions: int = 2,
) -> str:
    """Write a new immutable store version and atomically repoint readers.

    Returns the new version directory.  Old versions beyond `keep_versions`
    are removed AFTER the pointer swap (pure cleanup — a reader that
    resolved the pointer before the swap may still be scanning the previous
    version, which is why at least 2 are retained by default)."""
    import shutil as _shutil

    os.makedirs(path, exist_ok=True)
    mp = _versions_meta_path(path)
    cur = None
    if os.path.exists(mp):
        with open(mp) as fh:
            cur = _json.load(fh)
    version = 0 if cur is None else cur["version"] + 1
    vdir = os.path.join(path, f"chunks_v{version}")
    if partition_col and partition_col in chunks.columns:
        chunks = chunks.repartition(F.col(partition_col))  # write_chunks note
    writer = chunks.write.mode("overwrite")
    if partition_col and partition_col in chunks.columns:
        writer = writer.partitionBy(partition_col)
    writer.parquet(vdir)                                       # step 1: full new version
    tmp = mp + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump({"version": version, "dir": vdir}, fh)
    os.replace(tmp, mp)                                        # step 2: atomic swap
    live = {f"chunks_v{v}" for v in range(max(0, version - keep_versions + 1), version + 1)}
    for d in os.listdir(path):                                 # step 3: retention cleanup
        if d.startswith("chunks_v") and d not in live:
            _shutil.rmtree(os.path.join(path, d))
    return vdir


def read_chunks_snapshot(spark: SparkSession, path: str, version: int | None = None):
    """Read the current (or a pinned historical) store version.  Falls back
    to the legacy in-place `chunks/` layout when no pointer exists, so the
    two write forms interoperate."""
    mp = _versions_meta_path(path)
    if version is not None:
        return spark.read.parquet(os.path.join(path, f"chunks_v{version}"))
    if os.path.exists(mp):
        with open(mp) as fh:
            return spark.read.parquet(_json.load(fh)["dir"])
    return read_chunks(spark, path)


# ------------------------------------------------- incremental re-index ----
#
# The reference README documents incremental indexing but its engine
# destructively recreates the collection every run (reference
# index.py:426-434; SURVEY §2.2 note).  `upsert_chunks` above gives
# id-level append-only idempotence; THIS is the full documented intent:
# detect changed/new/deleted source documents by content fingerprint and
# re-chunk + re-embed ONLY those, leaving every untouched partition's
# files physically untouched (VERDICT r6 item 7).

INCR_FP_COL = "doc_fp"


def index_incremental(
    docs: DataFrame,
    path: str,
    embedder,
    chunk_size: int = 400,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> dict:
    """Incrementally (re-)index ``docs`` into the chunk store at ``path``.

    Change detection: each stored chunk row carries its document's id,
    source, and content fingerprint (md5 of text).  A document is STALE
    when its (id, source, fingerprint) TRIPLE is absent from the store —
    new doc, edited text, or a source move (same text, new source: the
    source is part of the identity, so a move re-indexes and the old
    partition drops the moved doc); a stored document absent from
    ``docs`` is DELETED.  Only stale
    documents flow through the chunk + embed UDFs; surviving rows of
    touched partitions are carried over by COPY (no recompute), and
    partitions with no stale/deleted documents are not rewritten at all
    (dynamic partition overwrite), so their parquet files stay
    byte-identical on disk.

    Scale posture: the fingerprint diff reads ONLY (id, fp, source) from
    the store (column pruning); the carry-over read is bounded to touched
    partitions (partition pruning on ``source_col``); the expensive embed
    UDF runs on exactly the stale documents.  The carried rows are
    eagerly materialized (localCheckpoint) to break the read-then-
    overwrite cycle on the same path — bounded by the touched partitions'
    size, the same cost class as any compaction of those partitions.

    Returns a summary dict: n_stale_docs, n_deleted_docs, n_fresh_chunks,
    n_carried_chunks, touched_sources.
    """
    from pyspark.errors import AnalysisException

    from log_vector_spark.operators.chunk import chunk_documents

    spark = docs.sparkSession
    target = os.path.join(path, "chunks_incr")
    fps = docs.select(
        F.col(id_col), F.col(source_col), F.md5(F.col(text_col)).alias(INCR_FP_COL)
    )
    # local-path short-circuit: probing a known-absent store through
    # spark.read logs a full analysis stack trace per run (first-write is
    # the COMMON case for this operator's callers); object-store URIs fall
    # through to the exception path
    if "://" not in target and not os.path.isdir(target):
        stored_fps = None
    else:
        try:
            # the store's own columns, declared: no schema-inference job
            stored = [T.StructField(id_col, T.LongType()), docs.schema[source_col],
                      T.StructField(INCR_FP_COL, T.StringType())]
            stored_fps = (
                spark.read.schema(T.StructType(stored))
                .parquet(target)
                .select(id_col, source_col, INCR_FP_COL)
                .distinct()
            )
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
            stored_fps = None

    # touched partitions, deleted and stale counts in ONE action.  A
    # struct keeps a NULL source, which collect_set alone would drop.
    # Bounded collect by design — the store is partitioned by a
    # low-cardinality source prefix (module docstring).
    src_set = F.collect_set(F.struct(source_col))
    if stored_fps is None:
        stale_docs = docs
        diff = docs.agg(src_set.alias("touched"), F.lit(0).alias("n_deleted"),
                        F.count(F.lit(1)).alias("n_stale"))
    else:
        # diff key is the FULL (id, source, fp) triple: a doc whose source
        # moved but whose text is unchanged is stale too (ADVICE r7 —
        # keying on (id, fp) alone kept the old source forever)
        stale_ids = fps.join(
            stored_fps, [id_col, source_col, INCR_FP_COL], "left_anti"
        ).select(id_col, source_col)
        deleted = stored_fps.join(fps.select(id_col), id_col, "left_anti").select(
            id_col, source_col
        )
        # touched partitions: sources holding a stale or deleted document,
        # PLUS the stored (old) sources of stale ids — a (doc_id, source)
        # move must rewrite the old partition or its chunks survive
        # alongside the re-indexed ones
        stale_old_src = stored_fps.join(
            stale_ids.select(id_col), id_col, "left_semi"
        ).select(source_col)
        stale_docs = docs.join(stale_ids.select(id_col), id_col, "left_semi")
        diff = (
            stale_ids.select(source_col)
            .union(deleted.select(source_col))
            .union(stale_old_src)
            .agg(src_set.alias("touched"))
            .crossJoin(deleted.agg(F.count(F.lit(1)).alias("n_deleted")))
            .crossJoin(stale_docs.agg(F.count(F.lit(1)).alias("n_stale")))
        )
    diff = diff.first()
    touched = [r[0] for r in diff["touched"]]
    n_deleted, n_stale = diff["n_deleted"], diff["n_stale"]

    if not touched:
        # nothing stale or deleted — or an empty first corpus, where an
        # all-empty partitioned write would leave an unreadable parquet dir
        return {
            "n_stale_docs": 0,
            "n_deleted_docs": 0,
            "n_fresh_chunks": 0,
            "n_carried_chunks": 0,
            "touched_sources": [],
        }

    chunked = chunk_documents(
        stale_docs, chunk_size=chunk_size, id_col=id_col,
        source_col=source_col, text_col=text_col,
    )
    # fingerprints of the stale docs only (md5 recompute is trivial next to
    # the embed UDF); AQE broadcasts the small side of the id join
    fps_stale = stale_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias(INCR_FP_COL)
    )
    # spread the embed UDF across cores: the chunk explode inherits the
    # docs scan partitioning (a single-file table reads as 1 partition),
    # which would otherwise run the pipeline's expensive map on one core.
    # The store write below is this frame's only action, and its counters
    # come from observes on it, so nothing re-runs the embed UDF.
    nparts = spark.sparkContext.defaultParallelism
    fresh_obs = Observation()
    fresh = (
        chunked.withColumn(
            # chunk_id = source:doc_id:chunk_index; second-to-last token so
            # a ':' inside source can never corrupt the id
            id_col,
            F.element_at(F.split(F.col("chunk_id"), ":"), -2).cast("long"),
        )
        .join(fps_stale, id_col)
        .repartition(nparts, F.col("chunk_id"))
        .withColumn("embedding", embedder.embed_col(F.col("document")))
        .select(
            "chunk_id", "source", "chunk_index", "total_chunks", "document",
            "embedding", id_col, INCR_FP_COL,
        )
        .observe(fresh_obs, F.count(F.lit(1)).alias("n"), src_set.alias("written"))
    )
    def nothing():
        return {"n": 0, "written": []}

    if stored_fps is None:
        # one shuffle by the partition column before the write: without it
        # every task writes a sliver into every source dir (32 files per
        # partition from the embed-spread repartition above) — footer count
        # dominates the later fingerprint-diff scans and the write itself
        (
            fresh.repartition(F.col(source_col))
            .write.mode("overwrite")
            .partitionBy(source_col)
            .parquet(target)
        )
        return {
            "n_stale_docs": n_stale,
            "n_deleted_docs": 0,
            "n_fresh_chunks": observed(fresh_obs, nothing)["n"],
            "n_carried_chunks": 0,
            "touched_sources": sorted(touched),
        }

    # carry-over: surviving rows of touched partitions only (partition-
    # pruned scan), materialized to break the same-path read/overwrite
    # cycle before the dynamic overwrite below replaces those partitions.
    # Survival key is the full (id, source, fp) triple — a moved doc's old
    # row matches on (id, fp) but not source and must NOT be carried.  Its
    # observe sits above the checkpoint, in the write's plan (session.py).
    current_keys = fps.select(id_col, source_col, INCR_FP_COL)
    carry_obs = Observation()
    carry = (
        spark.read.schema(fresh.schema)
        .parquet(target)
        .filter(F.col(source_col).isin(touched))
        .join(current_keys, [id_col, source_col, INCR_FP_COL], "left_semi")
        .localCheckpoint(eager=True)
        .observe(carry_obs, F.count(F.lit(1)).alias("n"), src_set.alias("written"))
    )
    out = carry.select(*fresh.columns).unionByName(fresh)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            out.repartition(F.col(source_col))
            .write.mode("overwrite")
            .partitionBy(source_col)
            .parquet(target)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    carried = observed(carry_obs, nothing)
    written_fresh = observed(fresh_obs, nothing)
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data — a touched partition whose every doc was deleted (nothing
    # carried, nothing fresh) would silently keep its stale rows.  Remove
    # those partition dirs explicitly (touched is a bounded list).
    import shutil as _shutil

    written = {r[0] for r in carried["written"] + written_fresh["written"]}
    for src_val in set(touched) - written:
        pdir = os.path.join(target, f"{source_col}={src_val}")
        if os.path.isdir(pdir):
            _shutil.rmtree(pdir)
    return {
        "n_stale_docs": n_stale,
        "n_deleted_docs": n_deleted,
        "n_fresh_chunks": written_fresh["n"],
        "n_carried_chunks": carried["n"],
        "touched_sources": sorted(touched),
    }


def read_chunks_incremental(spark: SparkSession, path: str) -> DataFrame:
    """Read the incremental chunk store (chunk cols + doc_id + doc_fp)."""
    return spark.read.parquet(os.path.join(path, "chunks_incr"))
