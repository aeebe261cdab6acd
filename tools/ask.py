"""Interactive Q&A REPL over a chunk store — the reference's `ask.py` entry
point (reference ask.py:276-326 main loop) re-hosted on the Spark engine.

Loop semantics preserved:
* blank input -> skipped (ask.py:304-305)
* `exit` / `quit` / `q` (case-insensitive) -> clean exit (ask.py:298)
* every answer appended to a markdown Q&A log (ask.py:258-273)
* every error becomes a printed string, the loop never dies
  (ask.py:194, 254-255)
* Ctrl-C -> graceful exit (ask.py:318-320)

The retrieval path is the engine's: embed the question (E4 dispatch), then
ONE Spark job per question — `knn_topk` (Q1) over the chunk table with the
hit's source, chunk index and text carried through the top-k, and the
`format_hits` row expression (Q2) applied to the k winners only — then
`answer()` (Q3).  The k formatted hits are joined on the driver with
`CONTEXT_SEP`, skipping NULLs as `assemble_context`'s array_join does.

The chunk table is read once per session into a column-pruned relation
persisted MEMORY_ONLY (`sources.store.CachedChunks`).  Its cache key is the
store's on-disk listing — every file's path, size and mtime_ns, read on the
driver at each question with no Spark job — so a re-indexed or appended
store is re-read on the next question and never served stale.  The cache
also holds each chunk's embedding norm, and the question's norm is folded
on the driver, so the only per-row fold a question runs is the dot product.

The loop itself is driver-side by design — SURVEY §2.5 scopes the REPL as
a driver loop, not an operator.

Usage:  python tools/ask.py STORE_PATH [output_file.md]
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Iterable, Iterator

# `python tools/ask.py` puts tools/ (not the repo root) on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXIT_WORDS = {"exit", "quit", "q"}
TOP_K = 5  # reference ask.py:188 n_results=5
HIT_COLS = ("source", "chunk_index", "document")  # what format_hits reads


def make_query_fn(spark, store_path: str, generator=None) -> Callable[[str], str]:
    """Wire retrieval + generation against one chunk store.

    Returns question -> answer-string; raises only on setup (missing store),
    matching the reference's constructor-time hard fail (ask.py:66-82).
    """
    from log_vector_spark.operators.embed import get_embedder
    from log_vector_spark.operators.rag import CONTEXT_SEP, answer, format_hits
    from log_vector_spark.operators.search import knn_topk
    from log_vector_spark.sources.store import NORM_COL, CachedChunks

    chunks = CachedChunks(spark, store_path, ("chunk_id", *HIT_COLS, "embedding"))  # S5
    embedder = get_embedder("deterministic")

    def query(question: str) -> str:
        try:
            qvec = embedder.embed_batch([question])[0]
            hits = knn_topk(
                chunks.get(), qvec, k=TOP_K, id_col="chunk_id", carry=HIT_COLS, norm_col=NORM_COL
            )
            rows = format_hits(hits).select("formatted").collect()
            context = CONTEXT_SEP.join(r.formatted for r in rows if r.formatted is not None)
            return answer(question, context, generator)
        except Exception as e:  # noqa: BLE001 - errors are strings, loop survives
            return f"Error generating answer: {e}"

    return query


def _styles(out) -> dict[str, str]:
    """Minimal ANSI styling when `out` is a real terminal (the reference
    renders through rich, ask.py:318; this engine keeps the same visual
    hierarchy — bold headers, dim metadata — with zero dependencies and
    plain text everywhere a pipe or log file is listening)."""
    if getattr(out, "isatty", lambda: False)():
        return {"bold": "\x1b[1m", "dim": "\x1b[2m", "cyan": "\x1b[36m", "off": "\x1b[0m"}
    return {"bold": "", "dim": "", "cyan": "", "off": ""}


def repl(
    lines: Iterable[str],
    query_fn: Callable[[str], str],
    log_path: str | None = None,
    out=sys.stdout,
) -> Iterator[tuple[str, str]]:
    """Drive the Q&A loop over an iterable of input lines (testable core).

    Yields (question, answer) pairs for every answered question."""
    from log_vector_spark.operators.rag import write_qa_markdown

    st = _styles(out)
    for raw in lines:
        question = raw.strip()
        if not question:
            continue
        if question.lower() in EXIT_WORDS:
            break
        ans = query_fn(question)
        if log_path:
            write_qa_markdown(question, ans, log_path)
        print(f"\n{st['bold']}{st['cyan']}Answer:{st['off']}\n{ans}\n", file=out)
        yield question, ans


def _stdin_lines() -> Iterator[str]:
    while True:
        try:
            yield input("\n[?] Ask a question about the corpus: ")
        except (EOFError, KeyboardInterrupt):
            return


def main() -> int:
    if len(sys.argv) < 2 or len(sys.argv) > 3:
        print("Usage: python tools/ask.py STORE_PATH [output_file.md]", file=sys.stderr)
        return 1
    store_path = sys.argv[1]
    log_path = sys.argv[2] if len(sys.argv) == 3 else "qa_log.md"

    from log_vector_spark.session import get_spark

    spark = get_spark("ask-repl", cpus=8)
    try:
        query_fn = make_query_fn(spark, store_path)
    except Exception as e:  # noqa: BLE001 - reference hard-fails on bad store
        print(f"Error: {e}", file=sys.stderr)
        return 1
    print(f"Corpus Q&A — store: {store_path} — log: {log_path}")
    print("Type 'exit' or 'quit' to stop.")
    for _ in repl(_stdin_lines(), query_fn, log_path):
        print(f"(saved to {log_path})")
    print(f"All responses saved to {log_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
