"""User-facing engine facade — the one-import switch path for a user of the
reference system.

The reference exposes three entry points (SURVEY §3): `python index.py
<repo>`, `python ask.py`, and the embedding server.  This facade binds the
same lifecycle to one object so the migration is mechanical:

    reference                         this engine
    ---------                         -----------
    python index.py ./logs            eng.index("./logs")
    ask.py REPL question              eng.ask("why did the job fail?")
    collection.query(embedding, 5)    eng.knn(qvec, k=5)
    (no analytics at all)             eng.query("tpch_q1"), eng.sql("...")

Everything returns lazy DataFrames (or plain strings for ask) — the facade
adds no execution path of its own: index() is tools/index_cli.build_index,
ask() is tools/ask.make_query_fn, knn() is operators/search.knn_topk, and
query() dispatches into the 245-query registry, so every behavior here is
already oracle- or pytest-verified under its own name.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


class LogVectorEngine:
    """One store + one SparkSession, all entry points."""

    def __init__(self, spark: SparkSession | None = None, store_path: str = "./vector_store"):
        if spark is None:
            from log_vector_spark.session import get_spark

            spark = get_spark("log-vector-engine")
        self.spark = spark
        self.store_path = store_path
        self._ask_fn = None

    # -- lifecycle ----------------------------------------------------------
    def index(self, repo_dir: str, chunk_size: int = 2000, append: bool = False, **kw) -> dict:
        """Scan -> chunk -> embed -> store (reference index.py main)."""
        from tools.index_cli import build_index

        # no ask rebind: the query fn re-reads the store when its listing changes
        return build_index(
            self.spark, repo_dir, self.store_path, chunk_size=chunk_size, append=append, **kw
        )

    def ask(self, question: str) -> str:
        """Retrieval-augmented answer over the bound store (reference ask.py)."""
        from tools.ask import make_query_fn

        if self._ask_fn is None:
            self._ask_fn = make_query_fn(self.spark, self.store_path)
        return self._ask_fn(question)

    def chunks(self) -> DataFrame:
        """The bound chunk store as a DataFrame (reference collection dump)."""
        from log_vector_spark.sources.store import read_chunks

        return read_chunks(self.spark, self.store_path)

    def knn(self, query_vec: Sequence[float], k: int = 5) -> DataFrame:
        """Top-k cosine neighbors in the bound store (reference ask.py:200)."""
        from log_vector_spark.operators.search import knn_topk

        return knn_topk(self.chunks(), list(query_vec), k=k, id_col="chunk_id")

    # -- analytics (absent in the reference) ---------------------------------
    def query(self, name: str, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
        """Run a registry query by name over a test-data scale factor."""
        import __spark_entry__ as entry

        qs = entry.queries()
        if name not in qs:
            raise KeyError(f"unknown query {name!r}; see list_queries()")
        return qs[name](self.spark, sf_dir)

    def list_queries(self) -> list[str]:
        import __spark_entry__ as entry

        return sorted(entry.queries())

    def sql(self, statement: str, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
        """ANSI SQL over the registered test tables (region..embeddings)."""
        from log_vector_spark.catalog import register_views

        register_views(self.spark, sf_dir)
        return self.spark.sql(statement)
