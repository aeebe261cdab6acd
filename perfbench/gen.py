"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` seeded from ``--seed``: the same
seed writes byte-identical inputs.  The program under test only ever sees
the files written here.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SERVICES = ("auth", "billing", "gateway", "search", "storage", "scheduler", "mailer", "metrics")
LEVELS = ("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
WORDS = (
    "request", "timeout", "connection", "retry", "cache", "miss", "hit", "token",
    "expired", "upstream", "latency", "queue", "worker", "shard", "replica", "lease",
    "commit", "rollback", "session", "user", "payload", "checksum", "quota", "limit",
    "backoff", "handshake", "certificate", "index", "segment", "flush", "compaction",
    "snapshot", "heartbeat", "leader", "follower", "partition", "offset", "consumer",
)
EN_WORDS = (
    "system", "error", "server", "disk", "memory", "network", "service", "process",
    "thread", "log", "record", "value", "state", "report", "change", "update",
    "query", "result", "time", "data", "file", "user", "job", "task", "node",
)
STOPWORDS = ("the", "a", "of", "to", "and")
OTHER_LANGS = ("es", "de", "fr", "zh")
OTHER_WORDS = {
    "es": ("el", "servidor", "fallo", "tiempo", "datos", "registro", "usuario", "red"),
    "de": ("der", "Server", "Fehler", "Zeit", "Daten", "Protokoll", "Benutzer", "Netz"),
    "fr": ("le", "serveur", "panne", "temps", "donnees", "journal", "utilisateur", "reseau"),
    "zh": ("服务器", "错误", "时间", "数据", "日志", "用户", "网络", "进程"),
}
EMBED_DIM = 64

_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2**31


def embed(texts: list[str], dim: int = EMBED_DIM) -> np.ndarray:
    """The deterministic md5-seeded LCG embedding, written from its
    definition (first 8 md5 bytes big-endian mod 2^31 seed an LCG; each
    dimension is state/2^31 - 0.5; rows are L2-normalised)."""
    state = np.array(
        [int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big") % _LCG_M for t in texts],
        dtype=np.int64,
    )
    out = np.empty((len(texts), dim), dtype=np.float64)
    for d in range(dim):
        state = (state * _LCG_A + _LCG_C) % _LCG_M
        out[:, d] = state / _LCG_M - 0.5
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return out / norms


def _vectors(mat: np.ndarray) -> pa.ListArray:
    """Rows of a 2-D array as an Arrow list column (Spark array<...>)."""
    n, dim = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)), pa.array(mat.ravel()))


def log_line(rng: random.Random, svc: str, t: int) -> str:
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 9)))
    return (
        f"2026-01-{1 + t // 86400 % 28:02d}T{t // 3600 % 24:02d}:{t // 60 % 60:02d}:{t % 60:02d}Z "
        f"{rng.choice(LEVELS)} [{svc}] req={rng.randrange(1 << 32):08x} {words} "
        f"ms={rng.randint(1, 5000)}"
    )


def log_text(rng: random.Random, svc: str, n_bytes: int) -> str:
    lines, size, t = [], 0, rng.randrange(10**6)
    while size < n_bytes:
        line = log_line(rng, svc, t)
        t += rng.randint(1, 30)
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines) + "\n"


# ------------------------------------------------------------------ index --


def write_log_tree(rng: random.Random, root: str, n_files: int, total_bytes: int,
                   chunk_size: int) -> dict:
    """A log tree of ``n_files`` files in one directory per service.

    Planted: one latin-1 file, one empty file, one binary file and one line
    longer than ``chunk_size``.  Returns {'text': {path: expected decoded
    text}, 'binary': [paths], 'bytes': total bytes on disk}."""
    mean = total_bytes // n_files
    text, binary, size = {}, [], 0
    for i in range(n_files):
        svc = SERVICES[i % len(SERVICES)]
        d = os.path.join(root, svc)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{svc}-{i:04d}.log")
        if i == 3:
            raw = bytes(rng.randrange(256) for _ in range(4096)) + b"\x00" * 64
            binary.append(path)
        elif i == 5:
            raw = b""
            text[path] = ""
        else:
            body = log_text(rng, svc, int(mean * rng.uniform(0.5, 1.5)))
            if i == 7:
                body = "x" * (chunk_size + 500) + "\n" + body
            if i == 9:
                body = body.replace("request", "requête", 3).replace("cache", "café", 3)
                raw = body.encode("latin-1")
            else:
                raw = body.encode("utf-8")
            text[path] = body
        with open(path, "wb") as fh:
            fh.write(raw)
        size += len(raw)
    return {"text": text, "binary": binary, "bytes": size}


def incr_docs(rng: random.Random, n_docs: int) -> list[dict]:
    return [
        {
            "doc_id": i,
            "source": SERVICES[i % len(SERVICES)],
            "text": log_text(rng, SERVICES[i % len(SERVICES)], rng.randint(600, 1400)),
        }
        for i in range(n_docs)
    ]


def edit_docs(rng: random.Random, docs: list[dict], share: float, n_sources: int = 2) -> list[dict]:
    """Edit ``share`` of the docs, all in ``n_sources`` randomly chosen
    sources; returns the new doc list (the input is not mutated)."""
    hot = set(rng.sample(SERVICES, n_sources))
    pool = [i for i, d in enumerate(docs) if d["source"] in hot]
    picked = set(rng.sample(pool, min(len(pool), int(len(docs) * share))))
    out = []
    for i, d in enumerate(docs):
        if i in picked:
            d = dict(d, text=d["text"] + log_line(rng, d["source"], rng.randrange(10**6)) + "\n")
        out.append(d)
    return out


def write_docs_table(docs: list[dict], path: str) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "source": [d["source"] for d in docs],
            "text": [d["text"] for d in docs],
        }),
        path,
    )


# -------------------------------------------------------------------- ask --


def write_chunk_store(rng: random.Random, store: str, n_chunks: int, n_files: int = 64) -> dict:
    """A chunk store in the layout the indexer writes (parquet under
    ``store/chunks``, one partition per source file), ``n_chunks`` log
    chunks over ``n_files`` files.  Returns the columns the reference
    top-k needs."""
    per = -(-n_chunks // n_files)
    source, chunk_index, docs = [], [], []
    for i in range(n_chunks):
        f, c = divmod(i, per)
        svc = SERVICES[f % len(SERVICES)]
        source.append(f"/logs/{svc}/{svc}-{f:03d}.log")
        chunk_index.append(c)
        docs.append("\n".join(log_line(rng, svc, rng.randrange(10**6)) for _ in range(3)))
    chunk_id = [f"{s}:file:{s}:{c}" for s, c in zip(source, chunk_index)]
    emb = embed(docs)
    for f in range(0, n_chunks, per):
        rows = range(f, min(f + per, n_chunks))
        part = os.path.join(store, "chunks", "source=" + source[f].replace("/", "%2F"))
        os.makedirs(part)
        pq.write_table(
            pa.table({
                "chunk_id": [chunk_id[i] for i in rows],
                "chunk_index": pa.array([chunk_index[i] for i in rows], pa.int32()),
                "total_chunks": pa.array([len(rows)] * len(rows), pa.int32()),
                "document": [docs[i] for i in rows],
                "embedding": _vectors(emb[rows.start:rows.stop]),
            }),
            os.path.join(part, "part-00000.parquet"),
        )
    return {"chunk_id": chunk_id, "source": source, "chunk_index": chunk_index,
            "document": docs, "embedding": emb}


def questions(rng: random.Random, n: int) -> list[str]:
    seen: set[str] = set()
    out = []
    while len(out) < n:
        q = (f"why did {rng.choice(SERVICES)} log {rng.choice(WORDS)} {rng.choice(WORDS)} "
             f"for req={rng.randrange(1 << 32):08x}?")
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


# ----------------------------------------------------------------- curate --


def _en_text(rng: random.Random, n_tokens: int) -> str:
    return " ".join(
        rng.choice(STOPWORDS) if rng.random() < 0.35 else rng.choice(EN_WORDS)
        for _ in range(n_tokens)
    )


def training_docs(rng: random.Random, n_docs: int) -> list[dict]:
    """~10% exact duplicates of earlier docs, ~40% non-English, ~10% of the
    English docs under 30 tokens."""
    docs: list[dict] = []
    for i in range(n_docs):
        src = f"src{i % 8}"
        if docs and rng.random() < 0.10:
            twin = rng.choice(docs)
            text, lang = twin["text"], twin["lang"]
        elif rng.random() < 0.40:
            lang = rng.choice(OTHER_LANGS)
            text = " ".join(rng.choice(OTHER_WORDS[lang]) for _ in range(rng.randint(20, 90)))
        else:
            lang = "en"
            text = _en_text(rng, rng.randint(8, 29) if rng.random() < 0.10 else rng.randint(30, 120))
        docs.append({"doc_id": i, "text": text, "lang": lang, "source": src, "n_chars": len(text)})
    return docs


def write_epochs(docs: list[dict], src_dir: str, n_epochs: int, mtime0: float) -> None:
    """id-ordered epoch files with strictly increasing mtimes, so a file
    stream with one file per trigger ingests them in id order."""
    os.makedirs(src_dir, exist_ok=True)
    per = -(-len(docs) // n_epochs)
    for e in range(n_epochs):
        part = docs[e * per:(e + 1) * per]
        path = os.path.join(src_dir, f"epoch-{e:03d}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array([d["doc_id"] for d in part], pa.int64()),
                "text": [d["text"] for d in part],
                "lang": [d["lang"] for d in part],
                "source": [d["source"] for d in part],
                "n_chars": pa.array([d["n_chars"] for d in part], pa.int64()),
            }),
            path,
        )
        os.utime(path, (mtime0 + e, mtime0 + e))


def write_embeddings(rng: random.Random, path: str, n: int, n_clusters: int = 24) -> None:
    """Clustered float32 vectors (vec_id, embedding, label) whose cluster
    mix drifts with vec_id, the arrival order."""
    g = np.random.default_rng(rng.randrange(1 << 32))
    centers = g.normal(size=(n_clusters, EMBED_DIM))
    drift = np.linspace(0.0, 1.0, n)[:, None]
    label = (g.integers(0, n_clusters, n) + (drift[:, 0] * n_clusters / 3).astype(int)) % n_clusters
    vec = centers[label] + 0.6 * g.normal(size=(n, EMBED_DIM)) + drift * 0.5
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": _vectors(vec.astype(np.float32)),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }),
        path,
    )
