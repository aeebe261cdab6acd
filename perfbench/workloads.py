"""The closed-loop workloads: one client, one driver process, each op
started only after the previous one returned.

A workload is a list of parts, run one after the other.  A part has
* ``prep(dir)``: generate its inputs from the seed (no Spark; repeatable),
* ``setup()``: open the entry points and pre-build the stores its ops
  start from,
* ``ops()``: the ops of one round, as (name, callable) pairs; set-up runs
  ``warm_rounds`` of them untimed (checked like the timed ones), so every
  timed or traced call runs on a warm JVM and warm Python workers,
* ``traced_round(tracer)``: the same round with each layer's public
  function called on its own and forced before the next call,
* ``check()``: compare every recorded output with the reference.
"""

from __future__ import annotations

import os
import random
import shutil

import check
import gen
from spans import Tracer

# ------------------------------------------------------------------ sizes --
INDEX_FILES, INDEX_BYTES = 16, 400_000
INDEX_CHUNK = 2000
INCR_DOCS, INCR_EDIT_SHARE, INCR_CHUNK = 300, 0.05, 400
ASK_CHUNKS = 30_000
ASK_WARM_QUESTIONS = 8
CURATE_DOCS, CURATE_EPOCHS = 400, 2
DEDUP_DOCS = 250
IVF_VECTORS = 500


def _data_files(root: str) -> dict[str, int]:
    """parquet data files under root -> mtime_ns (checkpoints excluded)."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.stat(p).st_mtime_ns
    return out


def files_and_leaves(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files written, partition leaves written) between two listings."""
    new = [p for p, m in after.items() if before.get(p) != m]
    return len(new), len({os.path.dirname(p) for p in new})


class Part:
    name = ""
    warm_rounds = 1  # untimed rounds in set-up
    trace_rounds = 1  # plain and traced rounds in a traced run

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.failures: list[str] = []
        self.n_ops = 0
        self.n_failed_ops = 0
        self.ratios: dict[str, float] = {}

    def rng(self, salt: str) -> random.Random:
        return random.Random(f"{self.seed}:{self.name}:{salt}")

    def setup(self) -> None:
        pass

    def record(self, name: str, problems: list[str]) -> None:
        self.n_ops += 1
        if problems:
            self.n_failed_ops += 1
            self.failures.extend(f"{name}: {p}" for p in problems)


# ------------------------------------------------------------------ index --


class Index(Part):
    """Batch writes: full index of a log tree, and incremental re-index of
    a documents table after ~5% of its docs changed in 2 of 8 sources."""

    name = "index"

    def prep(self, d: str) -> None:
        rng = self.rng("prep")
        self.tree_dir = os.path.join(d, "tree")
        self.tree = gen.write_log_tree(rng, self.tree_dir, INDEX_FILES, INDEX_BYTES, INDEX_CHUNK)
        self.docs = gen.incr_docs(rng, INCR_DOCS)
        self.dir = d

    def setup(self) -> None:
        from log_vector_spark.operators.embed import DeterministicEmbedder
        from log_vector_spark.sources.store import index_incremental

        self.embedder = DeterministicEmbedder(dim=gen.EMBED_DIM)
        self.edit_rng = self.rng("edits")
        self.version = 0
        self.incr_store = os.path.join(self.dir, "incr_store")
        # pre-build: the first incremental call writes the whole store
        index_incremental(self._docs_frame(), self.incr_store, self.embedder, chunk_size=INCR_CHUNK)
        self.n_full = 0
        self.full_runs: list[tuple[str, dict]] = []
        self.incr_runs: list[tuple[int, dict]] = []

    def _edit(self) -> int:
        new = gen.edit_docs(self.edit_rng, self.docs, INCR_EDIT_SHARE)
        n = sum(a["text"] != b["text"] for a, b in zip(self.docs, new))
        self.docs = new
        return n

    def _docs_frame(self):
        self.version += 1
        path = os.path.join(self.dir, f"docs_v{self.version}.parquet")
        gen.write_docs_table(self.docs, path)
        return self.spark.read.parquet(path)

    def ops(self):
        from log_vector_spark.sources.store import index_incremental
        from tools.index_cli import build_index

        self.n_full += 1
        store = os.path.join(self.dir, f"full_store_{self.n_full}")
        n_edited = self._edit()
        docs = self._docs_frame()

        def full():
            self.full_runs.append((store, build_index(self.spark, self.tree_dir, store)))

        def incr():
            res = index_incremental(docs, self.incr_store, self.embedder, chunk_size=INCR_CHUNK)
            self.incr_runs.append((n_edited, res))

        return [("index_full", full), ("index_incr", incr)]

    def traced_round(self, tr: Tracer) -> None:
        from pyspark.sql import functions as F

        from log_vector_spark.operators.chunk import chunk_documents
        from log_vector_spark.operators.embed import get_embedder
        from log_vector_spark.sources.corpus import read_corpus_text
        from log_vector_spark.sources.store import index_incremental, write_chunks, write_manifest

        store = os.path.join(self.dir, "traced_store")
        n_edited = self._edit()
        docs = self._docs_frame()
        with tr.op("index_full"):
            with tr.span("read_corpus_text", "sources.corpus"):
                corpus = read_corpus_text(self.spark, self.tree_dir).localCheckpoint(eager=True)
            with tr.span("chunk_documents", "operators.chunk"):
                ok = corpus.filter(~F.col("error")).select(
                    F.col("path").alias("doc_id"), F.col("source"), F.col("text"))
                chunks = chunk_documents(ok, chunk_size=INDEX_CHUNK).localCheckpoint(eager=True)
            with tr.span("embed_col", "operators.embed"):
                embedded = chunks.withColumn(
                    "embedding", get_embedder("deterministic").embed_col(F.col("document"))
                ).localCheckpoint(eager=True)
            with tr.span("write_chunks", "sources.store"):
                write_chunks(embedded, store, mode="overwrite")
                stats = {"chunks_written": embedded.count()}
                write_manifest(self.spark, store, repository=self.tree_dir,
                               embedding_type="deterministic", embedding_model="deterministic",
                               chunk_size=INDEX_CHUNK)
                stats["files_errored"] = corpus.filter(F.col("error")).count()
        self.full_runs.append((store, stats))
        full_files = files_and_leaves({}, _data_files(os.path.join(store, "chunks")))
        before = _data_files(self.incr_store)
        with tr.op("index_incr"):
            with tr.span("index_incremental", "sources.store"):
                res = index_incremental(docs, self.incr_store, self.embedder, chunk_size=INCR_CHUNK)
        self.incr_runs.append((n_edited, res))
        incr_files = files_and_leaves(before, _data_files(self.incr_store))
        files, leaves = full_files[0] + incr_files[0], full_files[1] + incr_files[1]
        self.ratios["sources.store.files_per_leaf"] = files / leaves if leaves else 0.0

    def read_ratio(self, input_mb: float) -> None:
        self.ratios["sources.corpus.read_ratio"] = input_mb * 2**20 / self.tree["bytes"]

    def check(self) -> None:
        for store, stats in self.full_runs:
            self.record("index_full", check.check_full_index(self.tree, store, stats))
            shutil.rmtree(store, ignore_errors=True)
        for i, (n_edited, res) in enumerate(self.incr_runs):
            problems = [] if res["n_stale_docs"] == n_edited else [
                f"n_stale_docs={res['n_stale_docs']} but {n_edited} docs were edited"]
            if i == len(self.incr_runs) - 1:
                # the store after the last refresh must equal a fresh index
                problems += check.check_incr_store(self.incr_store, self.docs)
            self.record("index_incr", problems)


# -------------------------------------------------------------------- ask --


class Ask(Part):
    """Interactive reads: one user asking distinct questions of a
    pre-built chunk store through the Q&A entry point."""

    name = "ask"
    warm_rounds = ASK_WARM_QUESTIONS
    trace_rounds = 3

    def prep(self, d: str) -> None:
        rng = self.rng("prep")
        self.store_dir = os.path.join(d, "store")
        self.store = gen.write_chunk_store(rng, self.store_dir, ASK_CHUNKS)
        self.questions = gen.questions(rng, 2000)
        self.dir = d

    def setup(self) -> None:
        from tools.ask import make_query_fn

        self.query = make_query_fn(self.spark, self.store_dir)
        self.answers: list[tuple[str, str]] = []
        self.next_q = 0

    def _question(self) -> str:
        q = self.questions[self.next_q]
        self.next_q += 1
        return q

    def ops(self):
        q = self._question()
        return [("question", lambda: self.answers.append((q, self.query(q))))]

    def traced_round(self, tr: Tracer) -> None:
        from pyspark.sql import functions as F

        from log_vector_spark.operators.embed import get_embedder
        from log_vector_spark.operators.rag import answer, assemble_context
        from log_vector_spark.operators.search import knn_batch_topk
        from log_vector_spark.sources.store import read_chunks

        q = self._question()
        with tr.op("question"):
            with tr.span("embed_batch", "operators.embed"):
                qvec = get_embedder("deterministic").embed_batch([q])[0]
                qdf = self.spark.createDataFrame([(0, qvec)], "query_id int, query_vec array<double>")
            with tr.span("read_chunks", "sources.store"):
                chunks = read_chunks(self.spark, self.store_dir)
                chunks.select("chunk_id", "embedding").write.format("noop").mode("overwrite").save()
            with tr.span("knn_batch_topk", "operators.search"):
                hits = knn_batch_topk(chunks, qdf, k=5, vec_id="chunk_id",
                                      vec_col="embedding").localCheckpoint(eager=True)
            with tr.span("assemble_context", "operators.rag"):
                row = assemble_context(hits.join(chunks, "chunk_id").select(
                    "rank", F.col("source"), F.col("chunk_index"), F.col("document"))).first()
                ans = answer(q, row["context"] if row and row["context"] else "")
        self.answers.append((q, ans))
        search = [s for s in tr.spans if s["layer"] == "operators.search"]
        self.ratios["operators.search.jobs_per_question"] = (
            sum(s["jobs"] for s in search) / len(search))

    def check(self) -> None:
        for q, ans in self.answers:
            self.record("question", check.check_answer(self.store, q, ans))


# ----------------------------------------------------------------- curate --


class Curate(Part):
    """Training-data pipeline: streaming ingest of id-ordered epoch files,
    near-duplicate and substring dedup, and an IVF store build / retrain /
    maintenance tick."""

    name = "curate"

    def prep(self, d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = self.rng("prep")
        self.docs = gen.training_docs(rng, CURATE_DOCS)
        self.src = os.path.join(d, "epochs")
        gen.write_epochs(self.docs, self.src, CURATE_EPOCHS, 1.7e9)
        self.dedup_docs = self.docs[:DEDUP_DOCS]
        self.dedup_path = os.path.join(d, "dedup.parquet")
        pq.write_table(pa.Table.from_pylist(self.dedup_docs), self.dedup_path)
        self.emb_path = os.path.join(d, "embeddings.parquet")
        gen.write_embeddings(rng, self.emb_path, IVF_VECTORS)
        self.dir = d

    def _sf_dir(self, emb_path: str) -> str:
        """A fresh table directory per IVF op: stores are cached per
        process and table directory, so a reused one would time a lookup."""
        self.n_sf = getattr(self, "n_sf", 0) + 1
        sf = os.path.join(self.dir, f"sf{self.n_sf}")
        os.makedirs(sf)
        os.link(emb_path, os.path.join(sf, "embeddings.parquet"))
        return sf

    def _ingest(self, src: str):
        from log_vector_spark.streaming.pipeline import run_stream_training_ingest

        self.n_out = getattr(self, "n_out", 0) + 1
        out = os.path.join(self.dir, f"ingest{self.n_out}")
        return out, run_stream_training_ingest(self.spark, src, out)

    def _dedup(self, path: str):
        from log_vector_spark.operators.curation import substring_dup_spans
        from log_vector_spark.operators.dedup import connected_components, minhash_band_pairs

        d = self.spark.read.parquet(path)
        labels = connected_components(minhash_band_pairs(d), d.select("doc_id")).collect()
        spans = substring_dup_spans(d).collect()
        return [tuple(r) for r in labels], [tuple(r) for r in spans]

    def _ivf(self, emb_path: str):
        from log_vector_spark.sources.index_store import (
            ensure_ivf_store, maintain_ivf, retrain_ivf_store)

        root = ensure_ivf_store(self.spark, self._sf_dir(emb_path))
        return root, retrain_ivf_store(self.spark, root), maintain_ivf(self.spark, root)

    def setup(self) -> None:
        self.ingests, self.dedups, self.ivfs = [], [], []

    def ops(self):
        return [
            ("ingest", lambda: self.ingests.append(self._ingest(self.src))),
            ("dedup", lambda: self.dedups.append(self._dedup(self.dedup_path))),
            ("ivf_store", lambda: self.ivfs.append(self._ivf(self.emb_path))),
        ]

    def traced_round(self, tr: Tracer) -> None:
        from log_vector_spark.operators.curation import substring_dup_spans
        from log_vector_spark.operators.dedup import connected_components, minhash_band_pairs
        from log_vector_spark.sources.index_store import (
            ensure_ivf_store, maintain_ivf, retrain_ivf_store)
        from log_vector_spark.streaming.pipeline import run_stream_training_ingest

        out = os.path.join(self.dir, "traced_ingest")
        with tr.op("ingest"):
            with tr.span("run_stream_training_ingest", "streaming.pipeline") as rec:
                res = run_stream_training_ingest(self.spark, self.src, out)
        self.ingests.append((out, res))
        self.ratios["streaming.pipeline.jobs_per_epoch"] = rec["jobs"] / CURATE_EPOCHS
        f, leaves = files_and_leaves({}, _data_files(out))
        self.ratios["streaming.pipeline.files_per_leaf"] = f / leaves if leaves else 0.0

        with tr.op("dedup"):
            d = self.spark.read.parquet(self.dedup_path)
            with tr.span("minhash_band_pairs", "operators.dedup"):
                pairs = minhash_band_pairs(d).localCheckpoint(eager=True)
            with tr.span("connected_components", "operators.dedup"):
                labels = connected_components(pairs, d.select("doc_id")).collect()
            with tr.span("substring_dup_spans", "operators.curation"):
                spans = substring_dup_spans(d).collect()
        self.dedups.append(([tuple(r) for r in labels], [tuple(r) for r in spans]))

        with tr.op("ivf_store"):
            sf = self._sf_dir(self.emb_path)
            with tr.span("ensure_ivf_store", "sources.index_store"):
                root = ensure_ivf_store(self.spark, sf)
            with tr.span("retrain_ivf_store", "sources.index_store"):
                retrain = retrain_ivf_store(self.spark, root)
            with tr.span("maintain_ivf", "sources.index_store"):
                tick = maintain_ivf(self.spark, root)
        self.ivfs.append((root, retrain, tick))
        f, leaves = files_and_leaves({}, _data_files(root))
        self.ratios["sources.index_store.files_per_leaf"] = f / leaves if leaves else 0.0

    def check(self) -> None:
        for out, res in self.ingests:
            self.record("ingest", check.check_ingest(self.docs, res))
            shutil.rmtree(out, ignore_errors=True)
        for labels, spans in self.dedups:
            self.record("dedup", check.check_components(self.dedup_docs, labels)
                        + check.check_substring_spans(self.dedup_docs, spans))
        for root, retrain, tick in self.ivfs:
            self.record("ivf_store", check.check_ivf(root, IVF_VECTORS, retrain, tick))
            shutil.rmtree(root, ignore_errors=True)


class Workload:
    """The parts of one workload, driven as one: a round is every part's
    round in order."""

    def __init__(self, parts: list[Part]):
        self.parts = parts
        self.warm_rounds = max(p.warm_rounds for p in parts)
        self.trace_rounds = max(p.trace_rounds for p in parts)

    def prep(self, d: str) -> None:
        for p in self.parts:
            os.makedirs(os.path.join(d, p.name))
            p.prep(os.path.join(d, p.name))

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def ops(self):
        return [op for p in self.parts for op in p.ops()]

    def traced_round(self, tr: Tracer) -> None:
        for p in self.parts:
            p.traced_round(tr)

    def check(self) -> None:
        for p in self.parts:
            p.check()

    def read_ratio(self, input_mb: float) -> None:
        for p in self.parts:
            if isinstance(p, Index):
                p.read_ratio(input_mb)

    def record(self, name: str, problems: list[str]) -> None:
        self.parts[0].record(name, problems)

    @property
    def failures(self) -> list[str]:
        return [f for p in self.parts for f in p.failures]

    @property
    def n_ops(self) -> int:
        return sum(p.n_ops for p in self.parts)

    @property
    def n_failed_ops(self) -> int:
        return sum(p.n_failed_ops for p in self.parts)

    @property
    def ratios(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.ratios.items()}


WORKLOADS = {"ask": (Ask,), "write": (Index, Curate)}


def make(name: str, spark, seed: int) -> Workload:
    return Workload([cls(spark, seed) for cls in WORKLOADS[name]])
