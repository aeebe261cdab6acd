"""RAG assembly + generation boundary (SURVEY §2.5 Q2-Q3, §2.2 K3).

Q2 context assembly is a real DataFrame operator (ordered concat over the
top-k hits); Q3 generation is an engine *boundary* — pluggable, driver-side,
with a deterministic echo implementation for tests and an import-gated
Ollama client for parity with the reference (ask.py:232-245).

Failure fidelity: the reference converts every error into a returned string
so the REPL never dies (ask.py:194, 254-255) — `answer()` keeps that
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# the reference's prompt shape (ask.py:223-229), reproduced functionally
SYSTEM_PROMPT = (
    "You are a helpful systems administrator assistant. Answer questions "
    "about log files using the provided context."
)
PROMPT_TEMPLATE = "Context:\n{context}\n\nQuestion: {question}\n\nAnswer:"
# between two formatted hits in the assembled context
CONTEXT_SEP = "\n\n"


def format_hits(hits: DataFrame, source_col: str = "source", index_col: str = "chunk_index",
                text_col: str = "document", rank_col: str = "rank") -> DataFrame:
    """Q2 row formatter: 'File: {source} (chunk {i})\\n{text}' per hit."""
    return hits.withColumn(
        "formatted",
        F.concat(
            F.lit("File: "),
            F.coalesce(F.col(source_col), F.lit("Unknown")),  # ask.py:211 fallback
            F.lit(" (chunk "),
            F.col(index_col).cast("string"),
            F.lit(")\n"),
            F.col(text_col),
        ),
    )


def assemble_context(hits: DataFrame, rank_col: str = "rank") -> DataFrame:
    """Q2: hits -> ONE row (context string), concatenated in rank order.

    Deterministic ordered concat without collecting: sort_array over
    (rank, formatted) structs, then array_join — the aggregation stays
    distributed until the single output row.
    """
    formatted = format_hits(hits, rank_col=rank_col)
    return formatted.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col(rank_col), F.col("formatted")))),
                lambda s: s.formatted,
            ),
            CONTEXT_SEP,
        ).alias("context")
    )


class EchoGenerator:
    """Deterministic test generator: returns the prompt it was given."""

    def generate(self, system: str, prompt: str) -> str:
        return f"[echo]\n{prompt}"


class OllamaGenerator:
    """Reference-parity client (ask.py:232-245): think=False, errors returned
    as strings, never raised."""

    def __init__(self, model: str = "llama3.2", host: str | None = None):
        self.model = model
        self.host = host

    def generate(self, system: str, prompt: str) -> str:  # pragma: no cover - needs ollama
        try:
            import ollama

            client = ollama.Client(host=self.host) if self.host else ollama
            resp = client.chat(
                model=self.model,
                messages=[
                    {"role": "system", "content": system},
                    {"role": "user", "content": prompt},
                ],
                think=False,
            )
            msg = resp.get("message") if isinstance(resp, dict) else getattr(resp, "message", None)
            content = msg.get("content") if isinstance(msg, dict) else getattr(msg, "content", None)
            return content or str(resp)
        except Exception as e:  # noqa: BLE001 - reference returns errors as strings
            return f"Error generating answer: {e}"


def answer(question: str, context: str, generator=None) -> str:
    """Q3: prompt assembly + generation; errors come back as strings."""
    generator = generator or EchoGenerator()
    try:
        return generator.generate(SYSTEM_PROMPT, PROMPT_TEMPLATE.format(context=context, question=question))
    except Exception as e:  # noqa: BLE001
        return f"Error generating answer: {e}"


def write_qa_markdown(question: str, ans: str, filename: str) -> None:
    """K3: append-mode Q&A markdown log (reference ask.py:258-273)."""
    import os
    from datetime import datetime

    header = "# Q&A Log\n\n"
    block = (
        f"## Question [{datetime.now().strftime('%Y-%m-%d %H:%M:%S')}]\n\n"
        f"**Q:** {question}\n\n**A:** {ans}\n\n"
    )
    new = not os.path.exists(filename)
    with open(filename, "a", encoding="utf-8") as f:
        if new:
            f.write(header)
        f.write(block)
