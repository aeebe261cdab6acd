"""Batch indexing CLI — the reference's `python index.py <repository>` entry
point (reference index.py:481-580 main) re-hosted on the Spark engine.

Surface preserved:
* positional repository path, hard exit(1) if it does not exist
  (index.py:533-537)
* mutually exclusive embedding backend flags --local-embeddings /
  --ollama-embeddings / --remote-embeddings, plus --model
  (index.py:491-508); this engine adds --deterministic-embeddings (the
  default here) so the CLI runs without any model dependency
* --chunk-size (index.py:515-520) and --store-path (the --chroma-path
  analogue, index.py:521-526)
* --append switches the K1 write from the reference's delete-and-recreate
  overwrite to idempotent upsert (anti-join on chunk_id)

Pipeline: S1-S4 corpus scan (recursive dir walk, sniff, 4-encoding decode
ladder, per-page PDF extract) -> T1-T3 greedy chunking -> E1/E2/E3 embed ->
K1 chunk store write (partitioned by source) + K2 manifest.  Everything
between the path argument and the final write is ONE lazy Spark plan; the
driver only prints counters.

Usage: python tools/index_cli.py REPO_DIR [--store-path DIR] [--chunk-size N]
       [--deterministic-embeddings | --local-embeddings | --ollama-embeddings
        | --remote-embeddings] [--model NAME] [--append]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_index(
    spark,
    repo_dir: str,
    store_path: str,
    chunk_size: int = 2000,
    embedder_kind: str = "deterministic",
    model: str | None = None,
    url: str | None = None,
    append: bool = False,
) -> dict:
    """Scan -> chunk -> embed -> write; returns counters for the caller.

    Kept separate from main() so tests (and notebooks) can drive the exact
    CLI pipeline in-process.
    """
    from pyspark.sql import Observation, functions as F

    from log_vector_spark.operators.chunk import chunk_documents
    from log_vector_spark.operators.embed import get_embedder
    from log_vector_spark.session import observed
    from log_vector_spark.sources.corpus import read_corpus_text
    from log_vector_spark.sources.store import upsert_chunks, write_chunks, write_manifest

    # both counters ride on the write (session.py: observe, not re-scan),
    # so the corpus is scanned, chunked and embedded once
    scanned = Observation()
    corpus = read_corpus_text(spark, repo_dir).observe(
        scanned, F.count_if(F.col("error")).alias("files_errored")
    )
    ok = corpus.filter(~F.col("error")).select(
        F.col("path").alias("doc_id"), F.col("source"), F.col("text")
    )
    chunks = chunk_documents(ok, chunk_size=chunk_size)
    if embedder_kind == "local":
        kw = {"model_name": model} if model else {}
    elif embedder_kind in ("remote", "ollama"):
        kw = {"url": url or "http://localhost:11434/api/embed"}
    else:
        kw = {}
    embedder = get_embedder(embedder_kind, **kw)
    embedded = chunks.withColumn("embedding", embedder.embed_col(F.col("document")))
    if append:
        n_written = upsert_chunks(embedded, store_path)
    else:
        written = Observation()
        write_chunks(
            embedded.observe(written, F.count(F.lit(1)).alias("n")), store_path, mode="overwrite"
        )
        n_written = observed(written, lambda: {"n": 0})["n"]
    write_manifest(
        spark,
        store_path,
        repository=os.path.abspath(repo_dir),
        embedding_type=embedder_kind,
        embedding_model=model or embedder_kind,
        chunk_size=chunk_size,
    )
    # the errored files are filtered out inside the scan stage, so a corpus
    # with no text at all loses the observe (session.observed): recount
    n_err = observed(
        scanned, lambda: {"files_errored": corpus.filter(F.col("error")).count()}
    )["files_errored"]
    return {"chunks_written": n_written, "files_errored": n_err}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Index a directory for semantic search")
    ap.add_argument("repository", type=str, help="Path to the directory to index")
    g = ap.add_mutually_exclusive_group()
    g.add_argument("--deterministic-embeddings", action="store_true", default=False)
    g.add_argument("--local-embeddings", action="store_true")
    g.add_argument("--ollama-embeddings", action="store_true")
    g.add_argument("--remote-embeddings", action="store_true")
    ap.add_argument("--model", type=str, default=None)
    ap.add_argument("--url", type=str, default=None, help="embedding server URL (remote/ollama)")
    ap.add_argument("--chunk-size", type=int, default=2000)
    ap.add_argument("--store-path", type=str, default="./vector_store")
    ap.add_argument("--append", action="store_true", help="idempotent upsert instead of overwrite")
    args = ap.parse_args(argv)

    if not os.path.exists(args.repository):
        print(f"Error: repository path does not exist: {args.repository}", file=sys.stderr)
        return 1

    if args.local_embeddings:
        kind = "local"
    elif args.ollama_embeddings or args.remote_embeddings:
        kind = "remote" if args.remote_embeddings else "ollama"
    else:
        kind = "deterministic"

    from log_vector_spark.session import get_spark

    spark = get_spark("index-cli")
    stats = build_index(
        spark,
        args.repository,
        args.store_path,
        chunk_size=args.chunk_size,
        embedder_kind=kind,
        model=args.model,
        url=args.url,
        append=args.append,
    )
    print(
        f"indexed {stats['chunks_written']} chunks "
        f"({stats['files_errored']} files errored) -> {args.store_path}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
