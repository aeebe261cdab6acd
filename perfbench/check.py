"""Reference results computed outside Spark, and the output checks that
compare the program's results with them.

Each check returns a list of failure messages (empty when the output is
right).  Nothing here calls the code paths it checks; the ingest check
runs the registry's DuckDB oracle SQL for the clean-corpus stats.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq

import gen

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]")


def round6(x: float) -> float:
    """Spark's round(double, 6): shortest decimal repr, half away from zero."""
    if not np.isfinite(x):
        return x
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)) + 0.0


def md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def greedy_chunks(text: str, size: int) -> list[tuple[int, str]]:
    """(position, chunk) of the greedy line packing, whitespace-only chunks
    dropped after numbering."""
    chunks, cur, used = [], [], 0
    for line in text.split("\n"):
        if used + len(line) + 1 > size and cur:
            chunks.append("\n".join(cur))
            cur, used = [], 0
        cur.append(line)
        used += len(line) + 1
    if cur:
        chunks.append("\n".join(cur))
    return [(i, c) for i, c in enumerate(chunks) if _JAVA_WS.sub("", c)]


def read_parquet_dir(path: str):
    return pq.read_table(path, partitioning="hive").to_pydict()


# ------------------------------------------------------------------ index --


def check_full_index(tree: dict, store: str, stats: dict) -> list[str]:
    """Every text file is indexed, the binary files are the errored ones,
    and each file's chunks, in order, rebuild its text."""
    bad = []
    if stats.get("files_errored") != len(tree["binary"]):
        bad.append(f"files_errored={stats.get('files_errored')} want {len(tree['binary'])}")
    rows = read_parquet_dir(os.path.join(store, "chunks"))
    if stats.get("chunks_written") != len(rows["chunk_id"]):
        bad.append(f"chunks_written={stats.get('chunks_written')} but store has {len(rows['chunk_id'])}")
    got = defaultdict(dict)
    for cid, doc in zip(rows["chunk_id"], rows["document"]):
        path, idx = cid.split(":file:", 1)[0], int(cid.rsplit(":", 1)[1])
        got[path][idx] = doc
    for path, text in tree["text"].items():
        want = greedy_chunks(text, 2000)
        have = sorted(got.pop(path, {}).items())
        if have != want:
            bad.append(f"{path}: {len(have)} chunks do not rebuild the file ({len(want)} expected)")
    if got:
        bad.append(f"unexpected files in store: {sorted(got)[:3]}")
    return bad


def incr_reference(docs: list[dict]) -> list[tuple[str, str]]:
    return sorted(
        (f"{d['source']}:{d['doc_id']}:{i}", md5(c))
        for d in docs
        for i, c in greedy_chunks(d["text"], 400)
    )


def check_incr_store(store: str, docs: list[dict]) -> list[str]:
    rows = read_parquet_dir(os.path.join(store, "chunks_incr"))
    have = sorted((cid, md5(doc)) for cid, doc in zip(rows["chunk_id"], rows["document"]))
    want = incr_reference(docs)
    if have == want:
        return []
    return [f"incremental store differs from a fresh index: {len(set(have) ^ set(want))} "
            f"(chunk_id, md5) pairs differ of {len(want)}"]


# -------------------------------------------------------------------- ask --


def expected_context(store: dict, question: str, k: int = 5) -> str:
    """Top-k by cosine rounded to 6 dp, descending, ties by chunk_id, with
    the cosine folded left to right in double precision."""
    emb = store["embedding"]
    q = gen.embed([question])[0]
    dot = np.zeros(len(emb))
    na = np.zeros(len(emb))
    nq = 0.0
    for d in range(emb.shape[1]):
        dot = dot + emb[:, d] * q[d]
        na = na + emb[:, d] * emb[:, d]
        nq = nq + q[d] * q[d]
    denom = np.sqrt(na) * np.sqrt(nq)
    with np.errstate(invalid="ignore", divide="ignore"):
        raw = np.where(denom == 0.0, 0.0, dot / denom)
    # rounding is monotone, so the rounded top-k lies among rows within
    # one rounding step of the k-th raw score
    kth = np.partition(raw, -k)[-k]
    cand = np.nonzero(raw >= kth - 2e-6)[0]
    ranked = sorted(cand, key=lambda i: (-round6(raw[i]), store["chunk_id"][i]))[:k]
    return "\n\n".join(
        f"File: {store['source'][i]} (chunk {store['chunk_index'][i]})\n{store['document'][i]}"
        for i in ranked
    )


def check_answer(store: dict, question: str, ans: str) -> list[str]:
    """The whole answer: the echo generator returns its prompt, so the
    answer is the prompt template around exactly the reference top-5."""
    from log_vector_spark.operators.rag import PROMPT_TEMPLATE

    if ans.startswith("Error generating answer"):
        return [f"error answer: {ans[:200]}"]
    want = "[echo]\n" + PROMPT_TEMPLATE.format(
        context=expected_context(store, question), question=question)
    if ans != want:
        return [f"answer to {question!r} is not the prompt around exactly the reference "
                f"top-5 in rank order"]
    return []


# ----------------------------------------------------------------- curate --


def check_ingest(docs: list[dict], res: dict) -> list[str]:
    import duckdb
    import pyarrow as pa

    from log_vector_spark.suites.pipeline_suite import _CLEAN_CORPUS_ORACLE

    bad = []
    n_fps = len({md5(d["text"]) for d in docs})
    if res["n_unique_fps"] != n_fps:
        bad.append(f"n_unique_fps={res['n_unique_fps']} want {n_fps}")
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        documents = pa.Table.from_pylist(docs)  # noqa: F841 - scanned by name below
        want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(_CLEAN_CORPUS_ORACLE).fetchall()}
    finally:
        con.close()
    have = {src: tuple(v) for src, v in res["stats"].items()}
    if have != want:
        bad.append(f"folded stats differ from the clean-corpus oracle: {have} vs {want}")
    return bad


def check_components(docs: list[dict], labels: list[tuple[int, int]]) -> list[str]:
    """Exact duplicates share one component; each label is the smallest id
    of its component, and a member of it."""
    lab = dict(labels)
    bad = []
    if set(lab) != {d["doc_id"] for d in docs}:
        bad.append(f"components cover {len(lab)} docs of {len(docs)}")
        return bad
    groups = defaultdict(list)
    for d in docs:
        groups[d["text"]].append(d["doc_id"])
    split = sum(1 for ids in groups.values() if len({lab[i] for i in ids}) > 1)
    if split:
        bad.append(f"{split} exact-duplicate groups split across components")
    members = defaultdict(list)
    for v, c in lab.items():
        members[c].append(v)
    wrong = sum(1 for c, vs in members.items() if min(vs) != c)
    if wrong:
        bad.append(f"{wrong} components not labelled by their smallest id")
    return bad


def substring_spans_reference(docs: list[dict], k: int = 8, w: int = 4) -> dict:
    """doc_id -> (n_words, n_dup_spans, dup_tokens, dup_ratio, keep) of
    winnowing substring dedup: a fingerprint is duplicated when two
    distinct docs select it; each covers tokens [pos, pos+k-1]."""
    fps = {}
    words = {}
    for d in docs:
        toks = [t for t in d["text"].split(" ") if t]
        words[d["doc_id"]] = len(toks)
        grams = [md5(" ".join(toks[i:i + k])) for i in range(len(toks) - k + 1)]
        sel = set()
        for j in range(max(len(grams) - w + 1, 1) if grams else 0):
            win = grams[j:j + w]
            m = min(win)
            sel.add((j + win.index(m) + 1, m))
        fps[d["doc_id"]] = sel
    owners = defaultdict(set)
    for doc, sel in fps.items():
        for _, h in sel:
            owners[h].add(doc)
    out = {}
    for doc, n in words.items():
        starts = sorted(p for p, h in fps[doc] if len(owners[h]) >= 2)
        spans, tokens, reach, s = 0, 0, 0, None
        for p in starts:
            if p > reach:
                if s is not None:
                    tokens += reach - s + 1
                spans, s = spans + 1, p
            reach = max(reach, p + k - 1)
        if s is not None:
            tokens += reach - s + 1
        ratio = round6(tokens / n) if n > 0 else None
        out[doc] = (n, spans, tokens, ratio, (ratio or 0.0) <= 0.5)
    return out


def check_substring_spans(docs: list[dict], rows: list[tuple]) -> list[str]:
    want = substring_spans_reference(docs)
    have = {r[0]: tuple(r[1:]) for r in rows}
    diff = [i for i in want if have.get(i) != want[i]]
    if diff or len(have) != len(want):
        i = diff[0] if diff else None
        return [f"substring_dup_spans differs on {len(diff)} docs, e.g. {i}: "
                f"{have.get(i)} vs {want.get(i)}"]
    return []


def check_ivf(store_root: str, n_vectors: int, retrain: dict, tick: dict) -> list[str]:
    bad = []
    vdir = os.path.join(store_root, f"vectors_v{retrain['version']}")
    n_rows = pq.read_table(vdir, columns=["vec_id"], partitioning="hive").num_rows
    if not retrain["n_vectors"] == n_rows == n_vectors:
        bad.append(f"retrain n_vectors={retrain['n_vectors']}, store rows={n_rows}, input={n_vectors}")
    if not np.isfinite(tick.get("drift", float("nan"))):
        bad.append(f"maintain_ivf drift={tick.get('drift')}")
    return bad
