"""Structured Streaming variants of the batch operators.

The reference is batch-only (SURVEY §2.7); this module shows the same
DataFrame operators running unchanged under readStream — the point of
building on window()/groupBy semantics that are identical in both modes.

* events windowed rollup: the SAME `tumbling_window` operator object from
  operators/events.py, fed by a streaming parquet source, complete-mode
  memory sink for synchronous tests.
* streaming index pipeline: chunk+embed kernels under a stream, sunk with
  foreachBatch (the exactly-once upsert point at a real deployment).

Watermarking note: the test/oracle path uses complete mode (no late-data
dropping) so results equal the batch run bit-for-bit.  The production
append-mode path adds `withWatermark("ts", ...)` — `run_events_session_stream`
implements BOTH: complete-mode native session windows (bit-equal to the
batch `session_window_agg`) and watermarked append mode, which only emits
sessions already sealed by the watermark (late data past the delay is
dropped — the at-scale memory bound on session state).

Every driver is a short body over four shared pieces: `file_stream` (the
parquet file source), `run_epochs` / `run_to_memory` (start, drain, stop),
`epoch_write` (the epoch sink write) and `read_artifact` (read-back).

Exactly-once rule (every `foreachBatch` sink): source offsets are
checkpointed, so a re-invocation with the same checkpoint resumes from the
last committed offset instead of re-ingesting; and every epoch's output
is written by `epoch_write` as a dynamic partition overwrite keyed by
``epoch`` (innermost partition level), so a replayed or retried epoch
REPLACES exactly its own leaves instead of appending a duplicate.  A
crash between two artifact writes of one epoch therefore cannot
double-count either.  Empty micro-batches reach no sink (`run_epochs`
skips them): there is nothing to replace, and an all-empty partitioned
write would leave a dir with no schema to infer.

Layout policy (`epoch_write`), so each epoch leaves one file per leaf,
not one sliver per task (r11; every later epoch and every query-time fold
re-reads these files — optimization guide §6.2):

* ``BOUNDED`` — a delta whose size is bounded by a constant (sketch
  registers, stats rows, Bloom bits): ``coalesce(1)``, 1 file per epoch;
* a key column — ``repartition(col)`` and that column as the LEADING
  partition level, so query-time pruning on it is unchanged: 1 file per
  (key, epoch) leaf;
* ``None`` — the frame's own partitioning (corpus-scaled outputs that
  are already spread for their compute).
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from log_vector_spark.operators.events import tumbling_window

_COUNTER = itertools.count()

_EVENTS_COLS = "event_id long, {ts}, user_id long, event_type string, value double, props string"
EVENTS_SCHEMA = _EVENTS_COLS.format(ts="ts timestamp")
DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"

BOUNDED = "bounded"

_MISSING = (
    "PATH_NOT_FOUND",
    "Path does not exist",
    "UNABLE_TO_INFER_SCHEMA",
    "Unable to infer schema",
)


# -- the shared epoch-sink pieces --------------------------------------------


def file_stream(
    spark: SparkSession,
    schema: str,
    path: str,
    glob: str | None = None,
    max_files: int | None = None,
    where: str | None = None,
) -> DataFrame:
    """Streaming parquet source over the files of `path` (streaming file
    sources need a directory and a declared schema).  `glob` narrows it to
    matching file names, `max_files` caps files per micro-batch, and
    `where` is a scan-stage predicate pushed to the source."""
    reader = spark.readStream.schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    src = reader.parquet(path)
    return src.filter(where) if where else src


def _drain(query, advance: Callable | None = None) -> None:
    """Run a started query until its input is consumed, then stop it.
    ``advance``, when given, is called between two drains so callers can
    land more input (late or duplicate batches) deterministically."""
    try:
        query.processAllAvailable()
        if advance is not None:
            advance()
            query.processAllAvailable()
    finally:
        query.stop()


def run_epochs(
    src: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
    advance: Callable | None = None,
) -> None:
    """Drive `src` through the foreachBatch `sink` to completion.  Empty
    micro-batches never reach the sink.  Without a `checkpoint` Spark uses
    a throwaway one (no resume across invocations)."""

    def guarded(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            sink(batch_df, epoch_id)

    writer = src.writeStream
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    _drain(writer.foreachBatch(guarded).start(), advance)


def run_to_memory(
    df: DataFrame, mode: str, prefix: str, advance: Callable | None = None
) -> DataFrame:
    """Drive `df` into a uniquely named memory sink in output `mode` and
    return the sink table — the synchronous form tests and oracles use."""
    name = f"{prefix}_{next(_COUNTER)}"
    _drain(df.writeStream.outputMode(mode).format("memory").queryName(name).start(), advance)
    return df.sparkSession.table(name)


def _overwrite_partitions(df: DataFrame, path: str, cols: tuple[str, ...]) -> None:
    """Dynamic partition overwrite, requested PER WRITE via the writer
    option (which takes precedence over — and never mutates — the session
    conf): under static mode the overwrite would delete every partition
    this write does not touch."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def epoch_write(df: DataFrame, path: str, epoch_id: int, layout: str | None = None) -> None:
    """Write one epoch's output under `path` as ``epoch=<epoch_id>`` leaves,
    replacing exactly those leaves (the module's exactly-once rule), with
    the module's layout policy: ``BOUNDED``, a key column, or None."""
    keys: tuple[str, ...] = ()
    if layout == BOUNDED:
        df = df.coalesce(1)
    elif layout is not None:
        df = df.repartition(F.col(layout))
        keys = (layout,)
    _overwrite_partitions(df.withColumn("epoch", F.lit(epoch_id)), path, (*keys, "epoch"))


def _absent(path: str) -> bool:
    """True when a local `path` does not exist; URI paths are assumed
    present (their reads handle absence)."""
    return "://" not in path and not os.path.isdir(path)


def read_artifact(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame | None:
    """Read a parquet artifact back, or None when it is missing.

    Missing means the dir is absent OR holds no data file: an aborted first
    epoch, or an all-empty partitioned write, leaves a dir with no schema to
    infer.  Local paths are checked on the filesystem, skipping the hidden
    ``_``/``.`` names Spark skips, so a missing artifact costs no read.  URI
    stores (s3://, hdfs://) cannot be listed from the driver, so their read
    is attempted and the same two failures map to None.  ``schema`` declares
    the artifact's columns, which spares the schema-inference job."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    if "://" not in path:
        for _root, dirs, files in os.walk(path):
            if any(not f.startswith(("_", ".")) for f in files):
                return reader.parquet(path)
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        return None
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if not any(t in str(e) for t in _MISSING):
            raise
        return None


# -- drivers -----------------------------------------------------------------


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table.

    Streaming file sources require a user-supplied schema, so the nanos-vs-
    micros question the batch catalog answers by dtype inspection has to be
    answered from the parquet footer here: a TIMESTAMP(NANOS) file is read
    as raw longs (nanosAsLong) and converted, a TIMESTAMP(MICROS) file is
    read natively.  Footer probe is one driver-side metadata read.
    """
    import pyarrow.parquet as pq

    from log_vector_spark.catalog import _ensure_read_confs

    _ensure_read_confs(spark)
    table_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(table_path):
        # directory-of-part-files layout (e.g. the sf1 decade replica):
        # stream the directory itself; footer-probe any one part file
        probe = next(
            os.path.join(table_path, f)
            for f in sorted(os.listdir(table_path))
            if f.endswith(".parquet")
        )
        path, glob = table_path, None
    else:
        # streaming file sources need a directory; glob-filter to the one table
        probe, path, glob = table_path, sf_dir, "events.parquet"
    nanos = getattr(pq.read_schema(probe).field("ts").type, "unit", None) == "ns"
    schema = _EVENTS_COLS.format(ts="ts long") if nanos else EVENTS_SCHEMA
    src = file_stream(spark, schema, path, glob)
    if nanos:
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return src


def run_events_window_stream(spark: SparkSession, sf_dir: str, minutes: int = 15) -> DataFrame:
    """Drive the streaming windowed rollup to completion synchronously and
    return the result table — batch-equivalent by construction."""
    agg = tumbling_window(stream_events(spark, sf_dir), minutes=minutes)
    return run_to_memory(agg, "complete", "stream_window")


def run_events_session_stream(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = 30,
    watermark: str | None = None,
) -> DataFrame:
    """Native session_window sessions under readStream.

    * ``watermark=None``: complete mode — all state kept, result equals the
      batch ``session_window_agg`` bit-for-bit.
    * ``watermark="10 minutes"``: append mode — a session row is emitted
      only once the watermark passes its end (sealed); unsealed tail
      sessions stay in the state store.  This is the bounded-state posture
      a 100 TB stream needs: state size ~ active sessions, not history.
    """
    from log_vector_spark.operators.events import session_window_agg

    src = stream_events(spark, sf_dir)
    if watermark is not None:
        src = src.withWatermark("ts", watermark)
    agg = session_window_agg(src, gap_minutes=gap_minutes)
    return run_to_memory(agg, "complete" if watermark is None else "append", "stream_session")


def run_stream_index(spark: SparkSession, sf_dir: str, out_path: str, chunk_size: int = 400) -> int:
    """Streaming ETL: documents stream -> chunk (pandas_udf) -> embed
    (pandas_udf) -> parquet sink via foreachBatch.  Returns rows written."""
    from log_vector_spark.operators.chunk import chunk_documents
    from log_vector_spark.operators.embed import DeterministicEmbedder

    embedder = DeterministicEmbedder(dim=64)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        chunks = chunk_documents(batch_df, chunk_size=chunk_size)
        # spread the embed UDF: the chunk explode inherits the micro-batch's
        # file partitioning (often 1), which would embed on one core
        nparts = spark.sparkContext.defaultParallelism
        embedded = chunks.repartition(nparts, F.col("chunk_id")).withColumn(
            "embedding", embedder.embed_col(F.col("document"))
        )
        epoch_write(embedded, out_path, epoch_id)

    src = file_stream(spark, DOCS_SCHEMA, sf_dir, glob="documents.parquet")
    run_epochs(src, sink, os.path.join(out_path + "_checkpoint", ""))
    return spark.read.parquet(out_path).count()


def run_stream_dedup(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    id_cols: list[str],
    watermark: str = "30 minutes",
    advance: Callable | None = None,
) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark on the id columns.

    The 100 TB ingestion posture: duplicate events (at-least-once sources,
    replayed batches) are dropped while their keys are younger than the
    watermark; state size is bounded by keys-per-watermark-window instead of
    all-history (a plain streaming dropDuplicates would grow state forever).
    ``advance``, when given, is called between processAllAvailable() calls so
    tests can append late/duplicate batches deterministically.
    """
    src = file_stream(spark, schema, src_dir)
    deduped = src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(id_cols)
    return run_to_memory(deduped, "append", "stream_dedup", advance)


def run_stream_click_attribution(
    spark: SparkSession, sf_dir: str, window_minutes: int = 30
) -> DataFrame:
    """Stream-stream interval join: clicks attributed to same-user purchases
    within the preceding window, both sides under readStream.

    The watermarks + the time-interval join condition let Spark BOUND the
    join state: a buffered click can be evicted once the purchase-side
    watermark passes click_ts + window (no unbounded buffering — the 100 TB
    requirement for any stream-stream join).  Inner-join matches emit as
    soon as both sides arrive, so on a finite input the result equals the
    batch interval join bit-for-bit.
    """
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    j = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (clicks.c_ts > purchases.p_ts - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (clicks.c_ts <= purchases.p_ts),
    ).select("purchase_id", "click_id", "user_id")
    return run_to_memory(j, "append", "stream_attr")


def run_stream_continuous_rollup(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double",
    advance: Callable | None = None,
) -> DataFrame:
    """Continuous aggregate: an hourly rollup TABLE maintained incrementally
    under a stream — the hypertable/materialized-rollup pattern.

    Each micro-batch aggregates its own rows to per-(hour, event_type)
    PARTIAL states (count + exact-decimal sum — mergeable; an avg would
    not be), merges them with the stored partials for ONLY the touched
    hours, and rewrites just those hour partitions (a dynamic partition
    overwrite: under static mode the overwrite would delete every
    untouched hour partition, so the mode must travel with the write, not
    with the session).  At 100 TB/day the write amplification per batch is
    the touched hours, not table history.

    Replay safety: the additive merge is NOT idempotent, so each processed
    ``epoch_id`` is recorded as a marker under ``out_path/_epochs`` (an
    underscore-prefixed dir — invisible to parquet readers) and a replayed
    epoch is skipped.  On single-writer local/HDFS storage this gives
    foreachBatch's exactly-once; an object store or multi-writer deployment
    would record the epoch transactionally (e.g. Delta txn metadata).
    Averages are derived at READ time from the partials —
    `read_continuous_rollup` returns the exact schema of the batch
    `hourly_rollup`.
    """
    epochs_dir = os.path.join(out_path, "_epochs")

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(epochs_dir, str(epoch_id))
        if os.path.exists(marker):  # replayed epoch: already merged, skip
            return
        partials = batch_df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("tv"),
        )
        stored = read_artifact(spark, out_path)
        merged = partials
        if stored is not None:
            existing = stored.join(partials.select("hour").distinct(), "hour", "left_semi")
            merged = (
                partials.unionByName(existing)
                .groupBy("hour", "event_type")
                .agg(F.sum("n").alias("n"), F.sum("tv").cast("decimal(18,6)").alias("tv"))
            )
        _overwrite_partitions(merged, out_path, ("hour",))
        os.makedirs(epochs_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("")

    run_epochs(file_stream(spark, schema, src_dir), merge, advance=advance)
    return read_continuous_rollup(spark, out_path)


def read_continuous_rollup(spark: SparkSession, out_path: str) -> DataFrame:
    """Derive the batch `hourly_rollup` schema from the stored partials."""
    t = spark.read.parquet(out_path)
    return t.select(
        "hour",
        "event_type",
        "n",
        F.round(F.col("tv").cast("double"), 6).alias("total_value"),
        F.round((F.col("tv").cast("double") / F.col("n")), 6).alias("avg_value"),
    )


def run_stream_ivf_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
) -> dict:
    """Streaming vector ingestion with incremental IVF assignment.

    The write-time half of the IVF design (SCALE.md "Vector search"): as
    embedding batches arrive, each vector is assigned to its nearest
    centroid and appended to the store PARTITIONED BY list_id, so query-time
    probes prune to nprobe/nlists of the files from the first batch onward.

    Centroids are frozen from the FIRST batch (sqrt-stride over it): IVF
    lists must be stable across a stream — re-deriving centroids per batch
    would scatter the same vector to different lists over time.  A real
    deployment re-trains centroids offline and rewrites the store when
    recall degrades (the compaction job is the natural place).  Assignment
    is the same broadcast argmin as the batch path.

    Returns {'rows': total rows written, 'n_lists': centroid count}.
    """
    from log_vector_spark.operators.search import ivf_assign, make_centroids

    state: dict = {"centroids": None}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if state["centroids"] is None:
            state["centroids"] = make_centroids(batch_df).localCheckpoint(eager=True)
        assigned = ivf_assign(batch_df, state["centroids"])
        # (list_id, epoch) leaves: list_id stays the FIRST partition level,
        # so query-time pruning is unchanged
        vectors = assigned.select("vec_id", "embedding", "label", "list_id")
        epoch_write(vectors, out_path, epoch_id, "list_id")

    src = file_stream(
        spark, EMB_SCHEMA, sf_dir, glob="embeddings.parquet", max_files=max_files_per_trigger
    )
    run_epochs(src, sink, os.path.join(out_path + "_checkpoint", ""))
    stored = spark.read.parquet(out_path)
    return {
        "rows": stored.count(),
        "n_lists": stored.select("list_id").distinct().count(),
    }


def run_stream_graph_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    deg: int = 8,
    glob: str = "*.parquet",
    max_files_per_trigger: int = 1,
) -> dict:
    """Incremental k-NN-graph maintenance (VERDICT r4 item 8): as vector
    batches arrive, keep BOTH write-time ANN artifacts current — the
    list_id-partitioned vector store (run_stream_ivf_ingest's layout) and
    the graph edge store — without ever rebuilding the whole graph.

    Per micro-batch:
      1. assign the batch to its (first-batch-frozen) IVF lists and land it
         in the vector store with the exactly-once (list_id, epoch)
         dynamic-overwrite layout;
      2. collect the batch's TOUCHED list ids (bounded by batch size — an
         epoch-level literal, like the stream-IVF probe) and re-derive
         edges for exactly those lists from their complete current
         membership (a partition-pruned read of the store), with the same
         blocked-pair + top-deg kernel as the batch build
         (search.edges_from_assigned);
      3. dynamic-overwrite the touched lists' edge partitions.

    Bounded incremental state: per-batch work is |touched lists| x
    (list size)^2 pair dots — candidates come only from the lists the new
    vectors landed in, never the rest of the corpus — and the only state
    is the two stores themselves (no unbounded operator state; centroids
    are the frozen coarse quantizer, re-trained offline like the IVF
    stream).  Exactly-once: the vector write replaces its own
    (list_id, epoch) leaves on replay, and the edge write is an IDEMPOTENT
    per-list overwrite — edges are a deterministic function of list
    membership, so a replayed epoch rewrites identical content.

    Graph-equivalence invariant (pinned in tests/test_stream_graph.py):
    a list's edges depend only on its membership, and every touched list
    is recomputed from its full membership, so after the stream drains the
    edge store EQUALS knn_graph_edges over the whole corpus under the
    frozen centroids — batch parity without batch cost.

    Returns {'rows', 'n_lists', 'n_edges', 'centroids' (frozen frame)}.
    """
    from log_vector_spark.operators.search import (
        edges_from_assigned,
        ivf_assign,
        make_centroids,
    )

    vec_path = os.path.join(out_path, "vectors")
    edge_path = os.path.join(out_path, "edges")
    state: dict = {"centroids": None}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if state["centroids"] is None:
            state["centroids"] = make_centroids(batch_df).localCheckpoint(eager=True)
        assigned = ivf_assign(batch_df, state["centroids"])
        vectors = assigned.select("vec_id", "embedding", "label", "list_id")
        epoch_write(vectors, vec_path, epoch_id, "list_id")
        touched = [r.list_id for r in assigned.select("list_id").distinct().collect()]
        members = (
            spark.read.parquet(vec_path)
            .filter(F.col("list_id").isin(touched))  # PartitionFilters prune
            .select("vec_id", "embedding", "list_id")
        )
        edges = edges_from_assigned(members, deg).join(
            members.select(F.col("vec_id").alias("src"), "list_id"), "src"
        )
        # per-list, not per-epoch: one file per list leaf, not per task
        _overwrite_partitions(
            edges.select("src", "dst", "escore", "list_id").repartition(F.col("list_id")),
            edge_path,
            ("list_id",),
        )

    src = file_stream(spark, EMB_SCHEMA, src_dir, glob=glob, max_files=max_files_per_trigger)
    run_epochs(src, sink, os.path.join(out_path + "_checkpoint", ""))
    vectors = spark.read.parquet(vec_path)
    edges = spark.read.parquet(edge_path)
    return {
        "rows": vectors.count(),
        "n_lists": vectors.select("list_id").distinct().count(),
        "n_edges": edges.count(),
        "centroids": state["centroids"],
    }


def run_stream_pq_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    glob: str = "*.parquet",
    max_files_per_trigger: int = 1,
) -> dict:
    """Incremental IVF-PQ code maintenance — the third write-time ANN
    artifact kept current by the stream (after the IVF store and the k-NN
    graph): as vector batches arrive, residual-encode them against the
    FROZEN coarse quantizer + codebook and append 4-bit codes partitioned
    by list_id.

    Both quantizers freeze on the first batch (centroids by sqrt-stride,
    the PQ codebook from the first batch's residuals) — codes must be
    comparable across the stream's lifetime, exactly like the frozen IVF
    lists; a deployment re-trains offline and rewrites (FAISS's own
    contract).  Unlike the graph's edges, a vector's code NEVER changes
    when later vectors arrive (encoding is per-vector under frozen
    quantizers), so the sink is a pure exactly-once append: each epoch
    dynamic-overwrites only its own (list_id, epoch) leaves, and per-batch
    work is strictly batch-linear (one residual pass + one m*k-broadcast
    argmin).  Stream-end state equals the batch encode of the full corpus
    under the frozen artifacts — pinned in tests/test_stream_pq.py for a
    3-batch split.

    Returns {'rows', 'n_lists', 'centroids', 'codebook' (frozen frames)}.
    """
    from log_vector_spark.operators.pq import pq_codebook, pq_encode, residual_frame
    from log_vector_spark.operators.search import make_centroids

    codes_path = os.path.join(out_path, "codes")
    state: dict = {"centroids": None, "codebook": None}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if state["centroids"] is None:
            state["centroids"] = make_centroids(batch_df).localCheckpoint(eager=True)
            first_res = residual_frame(batch_df, state["centroids"]).localCheckpoint(
                eager=True
            )
            state["codebook"] = pq_codebook(first_res, vec_col="residual").localCheckpoint(
                eager=True
            )
        res = residual_frame(batch_df, state["centroids"]).localCheckpoint(eager=True)
        codes = pq_encode(res, state["codebook"], vec_col="residual").join(
            res.select("vec_id", "list_id"), "vec_id"
        )
        codes = codes.select("vec_id", "subspace", "code_id", "list_id")
        epoch_write(codes, codes_path, epoch_id, "list_id")

    src = file_stream(spark, EMB_SCHEMA, src_dir, glob=glob, max_files=max_files_per_trigger)
    run_epochs(src, sink, os.path.join(out_path + "_checkpoint", ""))
    codes = spark.read.parquet(codes_path)
    return {
        "rows": codes.select("vec_id").distinct().count(),
        "n_lists": codes.select("list_id").distinct().count(),
        "centroids": state["centroids"],
        "codebook": state["codebook"],
    }


def run_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the streaming events feed broadcast-joined
    with a static dimension (per-type category + mean value computed once
    from the batch table), then aggregated per category.

    The static side is planned as a broadcast per micro-batch — the
    canonical "enrich the firehose with reference data" shape.  No
    watermark needed: the join is stateless (static side never changes
    within the run); state is only the final windowless aggregate.
    """
    from log_vector_spark.catalog import table

    batch_events = table(spark, "events", sf_dir)
    dim = batch_events.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("type_mean")
    ).withColumn(
        "category",
        F.when(F.col("event_type").isin("error", "purchase"), F.lit("critical"))
        .otherwise(F.lit("routine")),
    )
    enriched = stream_events(spark, sf_dir).join(F.broadcast(dim), "event_type")
    agg = enriched.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias(
            "total_value"
        ),
    )
    return run_to_memory(agg, "complete", "stream_enrich")


def run_stream_quality_gate(
    spark: SparkSession, sf_dir: str, out_path: str
) -> tuple[int, int]:
    """Streaming curation gate: documents stream -> Gopher rules -> split
    into admitted/ and quarantine/ parquet sinks in one foreachBatch pass.

    The streaming twin of the batch `gopher_rules` admission filter
    (operators/curation.py): per-microbatch the rule columns are pure
    scan-stage expressions (zero shuffle, zero state), so the gate adds no
    watermark/state-size considerations — it is the cheapest possible
    streaming stage and belongs FIRST in an ingest topology, shrinking
    everything downstream (dedup state, embed compute, index writes).
    Quarantined rows keep their rule flags so operators can audit WHY each
    document was held out.  Returns (n_admitted, n_quarantined).

    The stream checkpoints under ``out_path/_checkpoint``, and each sink
    lands ``epoch=<id>`` leaves.
    """
    from log_vector_spark.operators.curation import gopher_rules

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        flagged = gopher_rules(batch_df)
        for sub, cond in (
            ("admitted", F.col("gopher_pass")),
            ("quarantine", ~F.col("gopher_pass")),
        ):
            epoch_write(flagged.filter(cond), os.path.join(out_path, sub), epoch_id)

    src = file_stream(spark, DOCS_SCHEMA, sf_dir, glob="documents.parquet")
    run_epochs(src, sink, os.path.join(out_path, "_checkpoint"))

    def _count(sub: str) -> int:
        df = read_artifact(spark, os.path.join(out_path, sub))
        return 0 if df is None else df.count()

    return _count("admitted"), _count("quarantine")


def run_stream_binary_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    glob: str = "*.parquet",
    max_files_per_trigger: int = 1,
) -> dict:
    """Incremental binary (sign-bit) code maintenance — the fourth
    write-time ANN artifact kept current by the stream, laid out INSIDE
    the IVF partitioning so Hamming shortlists prune to probed lists
    before the 16-byte-per-vector code scan even starts.

    The coarse quantizer freezes on the first batch (same contract as the
    IVF / PQ streams: codes must be comparable across the stream's
    lifetime; retrain offline and rewrite).  The sign code itself needs
    NO trained artifact at all — it is a pure function of the vector —
    which makes this the easiest member of the family: the sink is a
    pure exactly-once append ((list_id, epoch) dynamic overwrite), per-
    batch work is strictly batch-linear (one broadcast assignment + one
    scan-stage pack), and stream-end state equals the batch pack under
    the frozen centroids bit-for-bit (pinned in tests/test_stream_binary.py
    for a 3-batch split).

    Returns {'rows', 'n_lists', 'centroids' (frozen frame)}.
    """
    from log_vector_spark.operators.binquant import sign_pack
    from log_vector_spark.operators.search import ivf_assign, make_centroids

    codes_path = os.path.join(out_path, "codes")
    state: dict = {"centroids": None}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if state["centroids"] is None:
            state["centroids"] = make_centroids(batch_df).localCheckpoint(eager=True)
        assigned = ivf_assign(batch_df, state["centroids"])
        codes = assigned.select(
            "vec_id",
            sign_pack(F.col("embedding"), 64).alias("bcode"),
            "list_id",
        )
        epoch_write(codes, codes_path, epoch_id, "list_id")

    src = file_stream(spark, EMB_SCHEMA, src_dir, glob=glob, max_files=max_files_per_trigger)
    run_epochs(src, sink, os.path.join(out_path + "_checkpoint", ""))
    codes = spark.read.parquet(codes_path)
    return {
        "rows": codes.select("vec_id").distinct().count(),
        "n_lists": codes.select("list_id").distinct().count(),
        "centroids": state["centroids"],
    }


def run_stream_bm25_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
) -> dict:
    """Streaming text-index maintenance: as document batches arrive, their
    posting rows land in the term_bucket-partitioned inverted index and a
    1-row per-epoch corpus-stats DELTA is recorded — the write-time half
    of the BM25 stored-index design (sources/index_store.py:bm25_stored),
    mirroring run_stream_ivf_ingest's layout discipline for the lexical
    family.

    Postings are keyed (term_bucket, epoch) — term_bucket stays the FIRST
    partition level so query-time pruning is unchanged — and the stats
    deltas are epoch-keyed 1-row partitions.  Corpus stats are MERGEABLE
    (n and sumlen are sums), so query time folds the bounded per-epoch
    delta rows into the global (n, sumlen) with one tiny aggregate —
    state never grows with corpus size, only with epoch count, and a
    compaction job can fold deltas at any time.

    Returns {'rows': posting rows, 'n_buckets': distinct term buckets,
    'stats': folded (n, sumlen) dict}.
    """
    from log_vector_spark.sources.index_store import (
        corpus_stats_row,
        postings_from_docs,
    )

    post_dir = os.path.join(out_path, "postings")
    stats_dir = os.path.join(out_path, "stats_deltas")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_write(postings_from_docs(batch_df), post_dir, epoch_id, "term_bucket")
        # single-row delta: 1 file/epoch
        epoch_write(corpus_stats_row(batch_df), stats_dir, epoch_id, BOUNDED)

    src = file_stream(
        spark, DOCS_SCHEMA, sf_dir, glob="documents.parquet", max_files=max_files_per_trigger
    )
    run_epochs(src, sink, os.path.join(out_path + "_checkpoint", ""))
    post = spark.read.parquet(post_dir)
    folded = (
        spark.read.parquet(stats_dir)
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sumlen").cast("bigint").alias("sumlen"),
        )
        .collect()[0]
    )
    return {
        "rows": post.count(),
        "n_buckets": post.select("term_bucket").distinct().count(),
        "stats": {"n": folded["n"], "sumlen": folded["sumlen"]},
    }


def run_stream_nb_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
) -> dict:
    """Streaming Naive-Bayes model maintenance: the classifier's training
    state (per-(label, token) counts, per-label doc counts) is a pair of
    COUNT relations, and counts are sums — so the model is maintained the
    same way the BM25 corpus stats are: per-epoch DELTA rows landing in
    exactly-once epoch partitions, folded by one aggregate at scoring
    time.  No retraining job, no driver state, no model server: the
    "trained model" a 100 TB curation pipeline consults is a parquet
    artifact that every ingested batch advances incrementally.

    Layout: token count deltas partition by (tok_bucket, epoch) — a 16-way
    token-hash bucket first, so a scorer that needs only its query tokens'
    rows prunes like the BM25 posting store — and label/doc-count deltas
    by (epoch).

    Returns {'token_rows': folded distinct (label, token) rows,
    'labels': folded label count}.
    """
    from log_vector_spark.functions.text import tokens
    from log_vector_spark.sources.index_store import _term_bucket_col

    tok_dir = os.path.join(out_path, "token_deltas")
    label_dir = os.path.join(out_path, "label_deltas")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        toks = batch_df.select(
            F.col("lang").alias("label"), F.explode(tokens(F.col("text"))).alias("tok")
        )
        epoch_write(
            toks.groupBy("label", "tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cw_delta"))
            .withColumn("tok_bucket", _term_bucket_col(F.col("tok"))),
            tok_dir,
            epoch_id,
            "tok_bucket",
        )
        # bounded rows (one per label): 1 file/epoch
        epoch_write(
            batch_df.groupBy(F.col("lang").alias("label")).agg(
                F.count(F.lit(1)).cast("bigint").alias("nd_delta")
            ),
            label_dir,
            epoch_id,
            BOUNDED,
        )

    src = file_stream(
        spark, DOCS_SCHEMA, sf_dir, glob="documents.parquet", max_files=max_files_per_trigger
    )
    run_epochs(src, sink, os.path.join(out_path + "_checkpoint", ""))
    folded_tokens = (
        spark.read.parquet(tok_dir)
        .groupBy("label", "tok")
        .agg(F.sum("cw_delta").cast("bigint").alias("cw"))
    )
    folded_labels = (
        spark.read.parquet(label_dir)
        .groupBy("label")
        .agg(F.sum("nd_delta").cast("bigint").alias("nd"))
    )
    return {
        "token_rows": folded_tokens.count(),
        "labels": folded_labels.count(),
    }


def _run_sketch_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    max_files_per_trigger: int,
    delta_fn: Callable[[DataFrame], DataFrame],
    sub: str,
    keys: tuple[str, ...],
    fold: Column,
) -> dict:
    """The mergeable-sketch ingest shared by the HLL, CMS and quantile
    streams: each event batch's sketch rows (`delta_fn`) land as a BOUNDED
    per-epoch delta under ``out_path/<sub>`` — sketch size is fixed by its
    parameters, not by the events the epoch carried — and the read-back
    folds them per `keys` with `fold`.

    Returns {'delta_rows': rows across epoch deltas, 'folded_rows':
    distinct `keys` after the fold, 'n_epochs': epochs}."""
    deltas_dir = os.path.join(out_path, sub)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_write(delta_fn(batch_df), deltas_dir, epoch_id, BOUNDED)

    src = file_stream(
        spark, EVENTS_SCHEMA, sf_dir, glob="events.parquet", max_files=max_files_per_trigger
    )
    run_epochs(src, sink, os.path.join(out_path + "_checkpoint", ""))
    deltas = spark.read.parquet(deltas_dir)
    return {
        "delta_rows": deltas.count(),
        "folded_rows": deltas.groupBy(*keys).agg(fold).count(),
        "n_epochs": deltas.select("epoch").distinct().count(),
    }


def run_stream_hll_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
) -> dict:
    """Streaming sketch maintenance: as event batches arrive, each batch's
    HyperLogLog register rows (event_type, reg, mj) land as an
    epoch-partitioned DELTA, and query time folds them with one tiny
    max-aggregate — the mergeable-sketch posture of events_hll_distinct
    carried to the write path, completing the streaming-maintenance family
    (IVF lists, graph edges, PQ/binary codes, BM25 postings, NB counts —
    this is the cardinality-monitor member).

    HLL registers merge by MAX — an idempotent, commutative, associative
    fold — so the per-epoch state is bounded at m rows per event type per
    epoch REGARDLESS of how many events the epoch carried, and a
    compaction job can pre-fold old epochs without changing any estimate.
    Batch parity (folded deltas == single-pass registers over the whole
    table) is pinned by tests/test_stream_hll.py.

    Returns {'delta_rows': rows across epoch deltas, 'folded_rows':
    distinct (event_type, reg) after the max-fold, 'n_epochs': epochs}.
    """
    from log_vector_spark.operators.events import hll_register_rows

    return _run_sketch_ingest(
        spark, sf_dir, out_path, max_files_per_trigger,
        hll_register_rows,  # bounded registers (m rows per event type)
        "register_deltas", ("event_type", "reg"), F.max("mj").alias("mj"),
    )


def run_stream_cms_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
) -> dict:
    """Streaming Count-Min maintenance: each event batch's (salt, cell)
    counts land as an epoch-partitioned DELTA merged by ADDITION at query
    time — the additive sibling of run_stream_hll_ingest (max-merge), so
    both mergeable-sketch disciplines have a streaming write path and both
    compact through operators/maintenance.py:fold_delta_store.

    The partition-per-epoch layout is load-bearing here in a way it is not
    for HLL's idempotent max: addition would double-count a replayed epoch
    under blind append.  Per-epoch state is bounded at d*w = 256 rows
    regardless of events carried.  Batch parity pinned in
    tests/test_stream_hll.py.

    Returns {'delta_rows', 'folded_rows', 'n_epochs'}.
    """
    from log_vector_spark.operators.events import cms_cell_counts

    return _run_sketch_ingest(
        spark, sf_dir, out_path, max_files_per_trigger,
        cms_cell_counts,  # bounded d*w cells (256 rows)
        "cell_deltas", ("salt", "cell"), F.sum("c").alias("c"),
    )


def run_stream_quantile_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
) -> dict:
    """Streaming quantile-sketch maintenance: per-epoch fixed-edge histogram
    deltas merged by bin-count ADDITION — the third mergeable-sketch write
    path (HLL = max, CMS = sum over hash cells, this = sum over value
    bins), all compacting through fold_delta_store.  Edges are configured,
    not data-derived: that is the one semantic concession streaming
    requires (the batch query derives edges from the global min/max a
    stream can never know), and it is the production trade every streaming
    histogram makes.  Sum-merge makes the epoch layout load-bearing, as in
    the CMS ingest.
    """
    from log_vector_spark.operators.events import fixed_bin_histogram

    return _run_sketch_ingest(
        spark, sf_dir, out_path, max_files_per_trigger,
        fixed_bin_histogram,  # bounded bins
        "bin_deltas", ("event_type", "bin"), F.sum("c").alias("c"),
    )


# -- bounded cross-epoch dedup state (VERDICT r7 item 3) --------------------
#
# The fps store is partitioned by a fingerprint PREFIX bucket (first md5 hex
# char -> 16 buckets; widen at larger scale) on top of epoch, and each epoch
# also lands a Bloom bit-position delta (OR-mergeable: the fold is a
# union+distinct over rows bounded by the bitset size m, a CONSTANT).  The
# per-batch dedup then never anti-joins the full history: Bloom clears
# definitely-unseen fps with a broadcast (no false negatives), and only the
# probable hits touch the exact store — through a literal fp-prefix IN
# filter that reaches the scan as PartitionFilters.  Per-batch exact-probe
# cost is O(dups + false positives) rows against 1/16th of the history per
# hit bucket, instead of O(total history).

FP_PFX_COL = "fp_pfx"
INGEST_BLOOM_BITS = 1 << 20
INGEST_BLOOM_K = 3

# Declared schemas of the training ingest's own artifacts (partition
# columns included): a read with a schema runs no inference job, and an
# epoch that wrote no rows reads as empty instead of failing inference.
# A legacy (epoch-only) fps store reads under FPS_SCHEMA with a NULL fp_pfx.
FPS_SCHEMA = f"fp string, doc_id long, source string, {FP_PFX_COL} string, epoch int"
BLOOM_SCHEMA = "pos long, epoch int"
STATS_SCHEMA = (
    "source string, n_docs long, total_tokens long, sum_quality decimal(28,6), epoch int"
)
INDEX_SCHEMA = "vec_id long, embedding array<double>, list_id long, epoch int"
CENTROIDS_SCHEMA = "list_id long, centroid array<double>"


def _fp_bloom_positions(
    fp_col: str, m: int = INGEST_BLOOM_BITS, k: int = INGEST_BLOOM_K
) -> list:
    """k salted-md5 bit positions for a fingerprint (the
    bloom_decontaminate hash idiom, suites/pipeline_suite.py)."""
    return [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{s}:"), F.col(fp_col))), 1, 8),
                16,
                10,
            ).cast("long")
            % m
        )
        for s in range(k)
    ]


def prior_fps_pruned(
    spark: SparkSession, fps_dir: str, prefixes: list, epoch_id: int, legacy: bool = False
) -> DataFrame:
    """Partition-pruned prior-fingerprint scan: only the fp-prefix buckets
    in `prefixes` (driver literals, <= 16) and only epochs < `epoch_id`
    (replay-proof) are read — both filters land in PartitionFilters
    (pinned in tests/test_stream_training_ingest.py).

    A `legacy` store, written before the fp_pfx level existed (pre-r8
    epoch-only layout — ADVICE r8), has no such column; the prefix filter
    then degrades to a ROW filter on substring(fp, 1, 1) — same rows, no
    partition pruning — so a resumed stream keeps working over the old
    store instead of raising on the missing column."""
    df = spark.read.schema(FPS_SCHEMA).parquet(fps_dir)
    pfx_filter = (
        F.substring("fp", 1, 1).isin(list(prefixes))
        if legacy
        else F.col(FP_PFX_COL).isin(list(prefixes))
    )
    return df.filter(pfx_filter & (F.col("epoch") < epoch_id)).select("fp")


def _fps_store_is_legacy(spark: SparkSession, fps_dir: str) -> bool:
    """True when `fps_dir` holds the pre-r8 epoch-only layout (epoch=
    directories with no fp_pfx= level).  A legacy store must keep
    receiving legacy-layout epochs — mixing partition depths in one root
    breaks Spark's partition discovery — so the sink consults this once at
    stream start.

    Detection is FILESYSTEM-AGNOSTIC (ADVICE r9): the layout question is
    answered by whether the partition-discovered schema carries
    FP_PFX_COL, via one metadata-only spark.read of the store — a
    driver-side os.listdir cannot see URI stores (s3://, hdfs://), and
    assuming current-layout there would silently append mixed-depth
    epochs into an epoch-only root, the exact corruption this guard
    exists to prevent.  An empty/missing store (`read_artifact` None —
    e.g. an aborted first epoch's dir with no files) is current-layout by
    definition (first epoch writes the new layout)."""
    df = read_artifact(spark, fps_dir)
    return df is not None and "epoch" in df.columns and FP_PFX_COL not in df.columns


def run_stream_training_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
    glob: str = "*.parquet",
    where: str | None = None,
) -> dict:
    """The COMPOSED streaming training-data pipeline (VERDICT r6 item 5):
    quality gate -> cross-epoch exact-dedup filter -> encode -> mergeable
    sketch deltas + an IVF index delta, all inside ONE foreachBatch under
    ONE checkpoint — the shape a 100 TB ingest actually runs, where the
    per-artifact streams proven in isolation (test_stream_*.py) must
    compose without breaking each other's exactly-once story.

    Batch parity (pinned in tests/test_stream_training_ingest.py): the
    folded per-source stats equal `clean_corpus_pipeline`'s batch output
    when ingest order is doc_id-ordered.  Stage semantics match the batch
    pipeline exactly:

    * gate: lang == 'en', n_tokens >= 30, quality >= 0.3
      (operators/textops.text_quality — same expressions, zero state);
    * dedup: a document survives only if it is the FIRST-SEEN copy of its
      md5(text) fingerprint across ALL ingested docs (gated or not) —
      the batch `exact_dedup` keeps min doc_id per fingerprint, which
      coincides when ingest is id-ordered (the usual crawl shape; a
      later-epoch duplicate can never resurrect a group whose first copy
      was quarantined, matching the batch semi-join).
    * sketches: per-source (n_docs, total_tokens, sum_quality) SUM deltas
      + per-source HLL fingerprint registers (MAX deltas) — both
      mergeable, so query time folds bounded per-epoch rows;
    * index: survivors' embeddings IVF-assigned under centroids FROZEN at
      the first non-empty survivor batch and PERSISTED under
      out_path/centroids (unlike the in-process freeze of
      run_stream_ivf_ingest, a restarted driver reloads the same
      centroids — list assignment stays stable across restarts).  The
      freeze is the sqrt-stride pick; survivor ids are the sparse doc_ids
      of gated, deduped documents, so when that pick is empty the batch's
      lowest vec_id is frozen as the single centroid (an empty quantizer
      would assign nothing, in every later epoch too).

    Every cross-epoch read (fps, Bloom deltas) is pruned to epoch <
    current, so a replayed epoch never probes its own first write.  State
    on the stream itself: NONE (no watermark buffers) — all cross-epoch
    state lives in the store as data, the delta-folding discipline of
    operators/maintenance.py; the driver only keeps the frozen centroid
    rows it picked or read, so later epochs assign without re-reading them.

    One epoch evaluates each intermediate once (session.py rules a-c): the
    Bloom probe is one checkpoint that flags every batch fp, the fps write
    comes first, and this epoch's fps leaves, read back with the declared
    schema, feed the Bloom delta and the survivor semi-join; the survivor
    count rides on the stats write.

    Bounded dedup (VERDICT r7 item 3): the per-batch probe never scans the
    full fingerprint history.  A broadcast Bloom bitset (per-epoch
    OR-mergeable deltas, <= INGEST_BLOOM_BITS rows total — constant) clears
    definitely-unseen fps without touching the store; only probable hits
    (true dups + Bloom false positives) are confirmed against the exact
    store, and that scan is partition-pruned to the literal fp-prefix
    buckets of the probable hits (PartitionFilters — see prior_fps_pruned).
    At 10^11-doc scale the bitset itself would shard by the same prefix;
    here one broadcast bitset is the honest single-cluster form.

    Returns {'n_epochs', 'n_unique_fps', 'n_survivors', 'index_rows',
    'n_lists', 'stats': {source: (n_docs, total_tokens, avg_quality)}}.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from log_vector_spark.functions.argmin import centroid_frame, ivf_assign_arrow
    from log_vector_spark.operators import textops
    from log_vector_spark.operators.embed import DeterministicEmbedder
    from log_vector_spark.operators.events import hll_rho_rows
    from log_vector_spark.operators.search import make_centroids, sqrt_stride
    from log_vector_spark.session import observed

    embedder = DeterministicEmbedder(dim=64)
    fps_dir = os.path.join(out_path, "fps")
    bloom_dir = os.path.join(out_path, "bloom_deltas")
    stats_dir = os.path.join(out_path, "stats_deltas")
    hll_dir = os.path.join(out_path, "hll_deltas")
    index_dir = os.path.join(out_path, "index")
    centroids_dir = os.path.join(out_path, "centroids")
    # Pre-r8 stores are epoch-only; keep writing that layout (mixed depths
    # break partition discovery) and let prior_fps_pruned row-filter.
    legacy_fps = _fps_store_is_legacy(spark, fps_dir)
    # the frozen quantizer's (list_id, centroid) rows, once this run holds
    # them: frozen centroids never change, so later epochs assign against
    # these rows instead of collecting the centroid table again
    frozen: list = []

    def embedded(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").alias("vec_id"),
            embedder.embed_col(F.col("text")).alias("embedding"),
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # ---- dedup grain: first-seen representative per fingerprint ----
        fps_b = (
            batch_df.select(
                "doc_id", "source", F.md5("text").alias("fp")
            )
            .groupBy("fp")
            # min_by ties the recorded source to the kept representative
            # (min doc_id) — independent mins could pair doc A's id with
            # doc B's source (ADVICE r7)
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min_by("source", "doc_id").alias("source"),
            )
            .withColumn(FP_PFX_COL, F.substring("fp", 1, 1))
        )
        firsts = fps_b  # first epoch: no prior store (no noisy probe)
        if not _absent(fps_dir):
            try:
                # ---- bounded history probe (VERDICT r7 item 3) ----
                # (1) Bloom pre-filter: prior fps' bit positions (<= m
                # rows, CONSTANT regardless of history) broadcast; a batch
                # fp missing ANY of its k positions is DEFINITELY unseen
                # (Bloom has no false negatives) and skips the exact probe.
                # Every batch fp gets a `probable` flag; the probe runs once
                # (the checkpoint) and feeds both the prefix collect and
                # the fps write below.
                probed = fps_b.withColumn("probable", F.lit(True))
                if not _absent(bloom_dir):
                    bits = (
                        spark.read.schema(BLOOM_SCHEMA)
                        .parquet(bloom_dir)
                        .filter(F.col("epoch") < epoch_id)  # replay-proof
                        .select("pos")
                        .distinct()
                        .withColumn("hit", F.lit(True))
                    )
                    # one probe row per (fp, salt) and distinct bits, so the
                    # hit count per fp is the number of its positions set;
                    # fps_b is already clustered by fp, so this groupBy
                    # adds no shuffle
                    probed = (
                        fps_b.select(
                            *fps_b.columns,
                            F.explode(F.array(*_fp_bloom_positions("fp"))).alias("pos"),
                        )
                        .join(F.broadcast(bits), "pos", "left")
                        .groupBy(*fps_b.columns)
                        .agg((F.count("hit") == INGEST_BLOOM_K).alias("probable"))
                    )
                probed = probed.localCheckpoint(eager=True)
                # (2) exact confirmation of the probable hits only,
                # PARTITION-PRUNED: literal fp-prefix IN + epoch < current
                # both reach the scan as PartitionFilters.  The collect is
                # bounded by the 16-value prefix alphabet.
                probable = probed.filter(F.col("probable")).drop("probable")
                pfx = [r[0] for r in probable.select(FP_PFX_COL).distinct().collect()]
                firsts = probed.filter(~F.col("probable")).drop("probable")
                if pfx:
                    prior = prior_fps_pruned(spark, fps_dir, pfx, epoch_id, legacy_fps)
                    firsts = firsts.unionByName(probable.join(prior, "fp", "left_anti"))
            except AnalysisException as e:
                if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                    raise
                firsts = fps_b
        if legacy_fps:
            epoch_write(firsts.drop(FP_PFX_COL), fps_dir, epoch_id)
        else:
            # keyed by prefix: every later epoch's pruned probe re-reads
            # these leaves
            epoch_write(firsts, fps_dir, epoch_id, FP_PFX_COL)
        # this epoch's fps, read back from the leaves just written
        # (partition-pruned to epoch_id): the Bloom delta and the survivor
        # semi-join below read them without evaluating the probe again
        firsts = spark.read.schema(FPS_SCHEMA).parquet(fps_dir).filter(
            F.col("epoch") == epoch_id
        )
        # this epoch's Bloom delta: bit positions of the NEWLY stored fps
        # (OR-mergeable).  BOUNDED (<= INGEST_BLOOM_BITS rows, a constant)
        # and every later epoch re-reads ALL epochs' deltas — without one
        # file per epoch each epoch leaves up to `cores` sliver files whose
        # open cost the whole rest of the stream pays
        delta_bits = firsts.select(
            F.explode(F.array(*_fp_bloom_positions("fp"))).alias("pos")
        ).distinct()
        epoch_write(delta_bits, bloom_dir, epoch_id, BOUNDED)

        # ---- quality gate (clean_corpus_pipeline's stage expressions) ----
        gated = textops.text_quality(
            batch_df.filter(F.col("lang") == "en"), carry_cols=("source", "text")
        ).filter((F.col("n_tokens") >= 30) & (F.col("quality") >= 0.3))
        # the gate chain inherits the SOURCE partitioning (a 1-file micro-
        # batch = 1-2 partitions; the semi-join broadcasts, adding no
        # shuffle), so without an explicit spread the checkpoint write AND
        # the embed UDF below run on one core — measured 11.6 s
        # single-task at sf0.1.  Keyed repartition parallelizes both.
        nparts = spark.sparkContext.defaultParallelism
        survivors = (
            gated.join(firsts.select("doc_id"), "doc_id", "left_semi")
            .repartition(nparts, F.col("doc_id"))
            .localCheckpoint(eager=True)  # feeds stats + hll + index below
        )

        # ---- mergeable sketch deltas ----
        # the survivor count rides on the stats write (session.observed:
        # every observed row reaches the stage output, so a lost observe
        # means zero survivors)
        counted = Observation()
        stats = survivors.observe(counted, F.count(F.lit(1)).alias("n")).groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.col("quality").cast("decimal(18,6)")).alias("sum_quality"),
        )
        # bounded sketch deltas (n_sources rows / n_sources x m registers):
        # query-time folds re-read every epoch's deltas
        epoch_write(stats, stats_dir, epoch_id, BOUNDED)
        n_survivors = observed(counted, lambda: {"n": 0})["n"]
        # a batch may gate out entirely (degenerate corpus): its empty
        # stats write wrote no leaf, and nothing else is written — no
        # sketch rows, no index rows and never an empty centroid set
        if n_survivors == 0:
            return
        hll = (
            hll_rho_rows(
                survivors.select("source", F.md5("text").alias("fp")),
                key_col="fp",
                group_cols=("source",),
            )
            .groupBy("source", "reg")
            .agg(F.max("rho").alias("mj"))
        )
        epoch_write(hll, hll_dir, epoch_id, BOUNDED)

        # ---- encode + IVF index delta ----
        # the index write is the embed UDF's only full consumer, so the
        # vectors are not materialized; the freeze's stride pick filters
        # on vec_id below the UDF and embeds only the picked rows
        vecs = embedded(survivors)
        if not frozen:
            if _absent(centroids_dir):
                # freeze on the first surviving batch, persist for
                # restarts.  The pick is ~sqrt-N rows, collected once: it
                # is both the quantizer the assignment uses and the
                # centroid table written (coalesce(1): bounded metadata
                # that every restart re-reads — one file, §6.2)
                rows = make_centroids(vecs, every=sqrt_stride(n_survivors)).collect()
                if not rows:
                    rows = embedded(survivors.orderBy("doc_id").limit(1)).collect()
                centroid_frame(
                    spark, [r[0] for r in rows], [r[1] for r in rows], T.LongType()
                ).coalesce(1).write.mode("overwrite").parquet(centroids_dir)
            else:
                rows = spark.read.schema(CENTROIDS_SCHEMA).parquet(centroids_dir).collect()
            frozen.extend((r[0], r[1]) for r in rows)
        assigned = ivf_assign_arrow(vecs, frozen, T.LongType())
        # keyed by list_id (r11, 5c61e59 — measured 186 sliver files for
        # one sf0.1 epoch before; 25 after)
        epoch_write(
            assigned.select("vec_id", "embedding", "list_id"), index_dir, epoch_id, "list_id"
        )

    src = file_stream(
        spark, DOCS_SCHEMA, src_dir, glob=glob, max_files=max_files_per_trigger,
        # scan-stage predicate on the stream (pushed to the file source) —
        # the registered query samples 1-in-4 here; the full-corpus form
        # is what the pytests drive
        where=where,
    )
    run_epochs(src, sink, os.path.join(out_path, "_checkpoint"))
    return read_training_ingest(spark, out_path)


BAND_PFX_COL = "bk_pfx"


def prior_bands_pruned(
    spark: SparkSession, bands_dir: str, prefixes: list, epoch_id: int
) -> DataFrame:
    """Partition-pruned prior band-bucket scan: only the (band, key-nibble)
    buckets in `prefixes` (driver literals, <= n_bands x 16) and only
    epochs < `epoch_id` (replay-proof) are read — the prior_fps_pruned
    discipline applied to LSH band buckets."""
    df = spark.read.parquet(bands_dir)
    return df.filter(
        F.col(BAND_PFX_COL).isin(list(prefixes)) & (F.col("epoch") < epoch_id)
    ).select("band", "band_key")


def run_stream_neardup_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
    glob: str = "*.parquet",
    where: str | None = None,
) -> DataFrame:
    """Cross-epoch NEAR-dup gate under a stream: the MinHash-LSH analog of
    run_stream_training_ingest's exact-fingerprint dedup (beyond-reference;
    the crawl-ingest shape where yesterday's near-copies must not re-enter
    today's shard).

    Semantics — the epoch fold of operators/dedup.minhash_incremental_
    survivors: a document survives iff NO earlier-arriving document (prior
    epoch, or lower doc_id within its own micro-batch) shares any of its 4
    LSH band buckets (8 affine MinHashes over distinct 3-shingles, 2 rows
    per band — the exact hash family of dedup_minhash_pairs, so the
    streamed survivor set is SQL-replayable: survivor(d) = NOT EXISTS
    collision with e.doc_id < d.doc_id when ingest is id-ordered).  ALL
    arriving documents' band buckets enter the store — a dropped
    document's buckets still bar later copies, which is what makes the
    fold order-insensitive beyond arrival rank and the oracle closed-form.
    Documents with < 3 tokens have no shingles, hence no buckets: they
    trivially survive (both engines agree by construction).

    Bounded probe (the VERDICT r7 item 3 discipline, applied to bands):
    band buckets are random md5 keys, so EVERY batch would touch every
    partition of a naively partitioned history — the probe would be
    O(history) per batch.  Instead (1) a broadcast Bloom bitset over the
    stored "band:key" strings (per-epoch OR-mergeable deltas, <=
    INGEST_BLOOM_BITS rows total) clears definitely-unseen buckets without
    touching the store — no false negatives, so correctness is exact; (2)
    only the probable hits' (band, key-nibble) buckets are scanned,
    partition-pruned by <= 64 driver literals (PartitionFilters).  Per-
    batch probe cost is O(true collisions + Bloom FP), independent of
    total history size.

    Every artifact (bands, bloom deltas, survivors) is epoch-keyed and
    every cross-epoch read filters epoch < current, so a replayed epoch
    never probes its own first write.

    Returns the folded survivor relation (doc_id, source), lazily read
    from the store.
    """
    from pyspark.errors import AnalysisException

    from log_vector_spark.operators.dedup import _minhash_bands

    bands_dir = os.path.join(out_path, "bands")
    bloom_dir = os.path.join(out_path, "band_bloom_deltas")
    surv_dir = os.path.join(out_path, "survivors")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        bands_b = _minhash_bands(
            batch_df.select("doc_id", "text"), 8, 2, 3, "doc_id", "text"
        ).withColumn(
            "bk", F.concat(F.col("band").cast("string"), F.lit(":"), F.col("band_key"))
        ).withColumn(
            BAND_PFX_COL,
            F.concat(F.col("band").cast("string"), F.substring("band_key", 1, 1)),
        )
        # band generation feeds the store write, the bloom delta, AND two
        # joins below; the store overwrite would invalidate a lazy read
        bands_b = bands_b.localCheckpoint(eager=True)
        # a non-empty batch whose docs ALL have < 3 tokens yields no bands:
        # its epoch write must be skipped or bands/ + band_bloom_deltas/
        # would hold only _SUCCESS and the next batch's read would fail
        # schema inference (the precedent documented at the survivors gate
        # of run_stream_training_ingest; ADVICE r10).  Survivors are still
        # written below — shingle-less docs trivially survive.
        has_bands = not bands_b.isEmpty()

        # ---- within-batch seniors (arrival order = doc_id inside a batch)
        a = bands_b.select("band", "band_key", F.col("doc_id").alias("id_a"))
        b = bands_b.select("band", "band_key", F.col("doc_id").alias("id_b"))
        dropped_batch = (
            a.join(b, ["band", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(F.col("id_b").alias("doc_id"))
        )

        # ---- prior-epoch probe: Bloom pre-filter, then pruned exact scan.
        # For an object-store out_path the "://" test is always true, so —
        # exactly like the exact-dedup precedent above — the first batch's
        # probe of the not-yet-existing store must fall through to "no
        # prior drops" on PATH_NOT_FOUND rather than crash (ADVICE r10).
        dropped_prior = None
        if has_bands and not _absent(bands_dir):
            try:
                probable_b = bands_b
                if not _absent(bloom_dir):
                    bits = (
                        spark.read.parquet(bloom_dir)
                        .filter(F.col("epoch") < epoch_id)  # replay-proof
                        .select("pos")
                        .distinct()
                    )
                    probes = bands_b.select(
                        "bk",
                        F.posexplode(F.array(*_fp_bloom_positions("bk"))).alias(
                            "salt", "pos"
                        ),
                    ).distinct()
                    probable = (
                        probes.join(F.broadcast(bits), "pos", "left_semi")
                        .groupBy("bk")
                        .agg(F.count_distinct("salt").alias("nhit"))
                        .filter(F.col("nhit") == INGEST_BLOOM_K)
                        .select("bk")
                    )
                    probable_b = bands_b.join(probable, "bk", "left_semi")
                pfx = [
                    r[0] for r in probable_b.select(BAND_PFX_COL).distinct().collect()
                ]
                if pfx:
                    prior = prior_bands_pruned(spark, bands_dir, pfx, epoch_id)
                    dropped_prior = probable_b.join(
                        prior, ["band", "band_key"], "left_semi"
                    ).select("doc_id")
            except AnalysisException as e:
                if not any(t in str(e) for t in _MISSING):
                    raise
                dropped_prior = None
        dropped = (
            dropped_batch
            if dropped_prior is None
            else dropped_batch.unionByName(dropped_prior)
        ).distinct()

        survivors = batch_df.select("doc_id", "source").join(
            dropped, "doc_id", "left_anti"
        )
        if has_bands:  # see the empty-bands guard above
            # keyed by prefix; the bounded Bloom delta is one file per
            # epoch — see the training ingest's identical notes
            epoch_write(bands_b, bands_dir, epoch_id, BAND_PFX_COL)
            delta_bits = bands_b.select(
                F.explode(F.array(*_fp_bloom_positions("bk"))).alias("pos")
            ).distinct()
            epoch_write(delta_bits, bloom_dir, epoch_id, BOUNDED)
        epoch_write(survivors, surv_dir, epoch_id)

    src = file_stream(
        spark, DOCS_SCHEMA, src_dir, glob=glob, max_files=max_files_per_trigger, where=where
    )
    run_epochs(src, sink, os.path.join(out_path, "_checkpoint"))
    stored = read_artifact(spark, surv_dir)
    if stored is None:
        # every batch was empty (degenerate/empty corpus): no store, no rows
        return spark.createDataFrame([], "doc_id long, source string")
    return stored.select("doc_id", "source")


def _group_counts(df: DataFrame | None, key: str) -> tuple[int, int]:
    """(non-NULL distinct values of `key`, rows) of `df`, from one grouped
    count collected (bounded by the key's cardinality); (0, 0) for a
    missing artifact."""
    if df is None:
        return 0, 0
    rows = df.groupBy(key).count().collect()
    return sum(r[0] is not None for r in rows), sum(r[1] for r in rows)


def read_training_ingest(spark: SparkSession, out_path: str) -> dict:
    """Fold the composed ingest's delta artifacts into the query-time view:
    one bounded aggregate per artifact (per-source rows for the stats,
    per-epoch rows for fps and per-list rows for the index — the same fold
    discipline as run_stream_bm25_ingest's stats).  It reads the store
    rather than counting inside the stream, so an ingest resumed from a
    checkpoint still reports every epoch.  Every read declares its
    artifact's schema.  An artifact may be missing when every batch gated
    out (degenerate corpus); it folds to empty."""
    fps = read_artifact(spark, os.path.join(out_path, "fps"), FPS_SCHEMA)
    stats = read_artifact(spark, os.path.join(out_path, "stats_deltas"), STATS_SCHEMA)
    index = read_artifact(spark, os.path.join(out_path, "index"), INDEX_SCHEMA)
    stats_rows = (
        stats.groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("sum_quality").cast("double") / F.sum("n_docs"), 6
            ).alias("avg_quality"),
        )
        .collect()
        if stats is not None
        else []
    )
    n_epochs, n_fps = _group_counts(fps, "epoch")
    n_lists, index_rows = _group_counts(index, "list_id")
    return {
        "n_epochs": n_epochs,
        "n_unique_fps": n_fps,
        "n_survivors": int(sum(r["n_docs"] for r in stats_rows)),
        "index_rows": index_rows,
        "n_lists": n_lists,
        "stats": {
            r["source"]: (r["n_docs"], r["total_tokens"], r["avg_quality"])
            for r in stats_rows
        },
    }


def run_stream_psi_monitor(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    max_files_per_trigger: int = 1,
    glob: str = "*.parquet",
) -> DataFrame:
    """Per-micro-batch quality-distribution drift gate: the streaming form
    of quality_psi_report, with the BASELINE frozen at the first non-empty
    batch and persisted (the centroid-freeze pattern of
    run_stream_training_ingest — a restarted driver monitors against the
    same reference, not a moving one).

    Each batch's rational quality scores land in the same 10 fixed bins as
    the batch report; PSI vs the frozen baseline uses the same +0.5/+5
    Laplace smoothing.  Both histograms are bounded 10-row relations, so
    the PSI fold is driver arithmetic on collected counts — O(1) per batch
    regardless of batch size; the only distributed work is the scan-stage
    score + one 10-row hash agg.  Emits one (epoch, n_docs, psi) row per
    non-empty batch.

    The ingest gate a pipeline puts IN FRONT of run_stream_training_ingest:
    a batch whose PSI blows past ~0.25 is a distribution break (format
    change, wrong dump, upstream filter outage) to quarantine, not ingest.
    """
    import json as _json
    import math as _math

    from log_vector_spark.operators import textops

    base_path = os.path.join(out_path, "baseline_hist.json")
    psi_dir = os.path.join(out_path, "psi")

    def _hist(batch_df: DataFrame) -> dict[int, int]:
        q = textops.text_quality(batch_df).filter(F.col("n_tokens") > 0)
        rows = (
            q.select(
                F.least(F.floor(F.col("quality") * 10), F.lit(9))
                .cast("int")
                .alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {r["bin"]: r["n"] for r in rows}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        hist = _hist(batch_df)
        if not hist:
            return
        if not os.path.exists(base_path):
            tmp = base_path + ".tmp"
            with open(tmp, "w") as fh:
                _json.dump({str(b): n for b, n in hist.items()}, fh)
            os.replace(tmp, base_path)
        with open(base_path) as fh:
            base = {int(b): n for b, n in _json.load(fh).items()}
        na, nb = sum(hist.values()), sum(base.values())
        psi = 0.0
        for b in range(10):
            pa = (hist.get(b, 0) + 0.5) / (na + 5.0)
            pe = (base.get(b, 0) + 0.5) / (nb + 5.0)
            psi += (pa - pe) * _math.log(pa / pe)
        row = spark.createDataFrame([(int(na), round(psi, 6))], "n_docs long, psi double")
        epoch_write(row, psi_dir, epoch_id)

    src = file_stream(spark, DOCS_SCHEMA, src_dir, glob=glob, max_files=max_files_per_trigger)
    run_epochs(src, sink, os.path.join(out_path, "_checkpoint"))
    stored = read_artifact(spark, psi_dir)
    if stored is None:
        return spark.createDataFrame([], "n_docs long, psi double, epoch long")
    return stored.select("epoch", "n_docs", "psi")
