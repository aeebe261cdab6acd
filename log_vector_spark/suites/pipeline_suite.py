"""Ingestion-pipeline queries: chunking, embedding, and the end-to-end
index->retrieve flow (the reference's whole reason to exist, SURVEY §3.1).

Everything here is oracle-checked, including the pandas_udf kernels:
`chunk_greedy` and `index_pipeline` replay the greedy line-packing fold and
the md5-seeded LCG embedder as recursive CTEs, so even the "inherently
sequential" stages are hash-verified end-to-end (plus pytest + hypothesis
in tests/test_chunk.py, tests/test_embed.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_vector_spark.catalog import table
from log_vector_spark.functions.vector import fixed_query_vector, vector_sql_literal
from log_vector_spark.operators import chunk as chunk_ops
from log_vector_spark.operators import search
from log_vector_spark.operators.embed import DeterministicEmbedder
from log_vector_spark.registry import register
from log_vector_spark.suites.mining_suite import _BIGRAMS_SQL, _TOKS_SQL

_LCG = "((doc_id * 1103515245 + d * 12345 + 42) % 2147483648) / 2147483648.0 - 0.5"


@register(
    "chunk_fixed",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             greatest(CAST(ceil(length(text) / 100.0) AS INTEGER), 1) AS n
      FROM documents
    ), e AS (
      SELECT doc_id, n AS total_chunks, unnest(range(0, n)) AS chunk_index, text FROM d
    )
    SELECT doc_id, CAST(chunk_index AS INTEGER) AS chunk_index,
           CAST(total_chunks AS INTEGER) AS total_chunks,
           substr(text, CAST(chunk_index * 100 + 1 AS INTEGER), 100) AS chunk
    FROM e
    """,
    doc="Fixed-width 100-char chunking via sequence+substring (zero Python).",
)
def chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_ops.chunk_documents_fixed(table(spark, "documents", sf_dir), chunk_size=100)


@register(
    "embed_map",
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             list_transform(range(0, 64), d -> {_LCG}) AS vec
      FROM documents
    )
    SELECT doc_id,
           round(sqrt(list_reduce(list_transform(vec, x -> x * x), (a, b) -> a + b)), 6) AS norm,
           round(vec[1], 6) AS dim0,
           round(vec[32], 6) AS dim31,
           round(vec[64], 6) AS dim63
    FROM v
    """,
    doc="Declarative deterministic embed (LCG per (doc_id, dim)): norm + probe dims.",
)
def embed_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: ((F.col("doc_id") * 1103515245 + d.cast("bigint") * 12345 + 42) % 2147483648)
        / 2147483648.0
        - 0.5,
    )
    v = docs.select(F.col("doc_id"), vec.alias("vec"))
    norm = F.sqrt(
        F.aggregate(F.transform(F.col("vec"), lambda x: x * x), F.lit(0.0), lambda a, b: a + b)
    )
    return v.select(
        "doc_id",
        F.round(norm, 6).alias("norm"),
        F.round(F.element_at("vec", 1), 6).alias("dim0"),
        F.round(F.element_at("vec", 32), 6).alias("dim31"),
        F.round(F.element_at("vec", 64), 6).alias("dim63"),
    )


@register(
    "chunk_greedy",
    # the greedy reset is a sequential per-doc fold; the oracle expresses it
    # as a recursive CTE stepping word-by-word with the reference's exact
    # +1-per-line accounting and flush-on-overflow rule (index.py:296-319)
    oracle="""
    WITH RECURSIVE
    w AS (
      SELECT doc_id, source, string_split(replace(text, ' ', chr(10)), chr(10)) AS ws
      FROM documents
    ),
    steps AS (
      SELECT doc_id, source, ws, 1 AS i, length(ws[1]) + 1 AS cur, 0 AS cidx
      FROM w WHERE len(ws) >= 1
      UNION ALL
      SELECT doc_id, source, ws, i + 1,
             CASE WHEN cur + length(ws[i+1]) + 1 > 120 THEN length(ws[i+1]) + 1
                  ELSE cur + length(ws[i+1]) + 1 END,
             CASE WHEN cur + length(ws[i+1]) + 1 > 120 THEN cidx + 1 ELSE cidx END
      FROM steps WHERE i < len(ws)
    ),
    assigned AS (SELECT doc_id, source, ws[i] AS line, i, cidx FROM steps),
    chunks AS (
      SELECT doc_id, source, cidx AS chunk_index,
             string_agg(line, chr(10) ORDER BY i) AS document
      FROM assigned GROUP BY 1, 2, 3
    )
    SELECT source || ':' || doc_id || ':' || chunk_index AS chunk_id, source,
           CAST(chunk_index AS INTEGER) AS chunk_index,
           CAST(max(chunk_index + 1) OVER (PARTITION BY doc_id) AS INTEGER) AS total_chunks,
           document
    FROM chunks
    WHERE trim(replace(document, chr(10), ' ')) <> ''
    """,
    doc="Reference-exact greedy line chunking (index.py:296-319 semantics) "
    "over newline-ified documents; pandas_udf + posexplode on the Spark side, "
    "recursive-CTE fold as the oracle; also pytest/hypothesis-covered.",
)
def chunk_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        F.translate(F.col("text"), " ", "\n").alias("text"),
    )
    return chunk_ops.chunk_documents(docs, chunk_size=120)


@register(
    "rag_context",
    oracle=f"""
    WITH scored AS (
      SELECT vec_id,
             round(list_cosine_similarity(embedding::DOUBLE[], {vector_sql_literal(fixed_query_vector(64))}::DOUBLE[]), 6) AS score
      FROM embeddings
    ), topk AS (
      SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 5
    ), ranked AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
      FROM topk
    )
    SELECT string_agg('File: ' || d.source || ' (chunk 0)' || chr(10) || d.text,
                      chr(10) || chr(10) ORDER BY r.rank) AS context
    FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
    """,
    doc="Q2 context assembly: top-5 hits formatted + concatenated in rank order "
    "(reference ask.py:205-220) as one distributed plan.",
)
def rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from log_vector_spark.operators.rag import assemble_context

    emb = table(spark, "embeddings", sf_dir)
    docs = table(spark, "documents", sf_dir)
    hits = search.knn_topk(emb, fixed_query_vector(64), k=5)
    ranked = hits.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("score"), F.asc("vec_id")))
    )
    joined = docs.join(F.broadcast(ranked), docs.doc_id == ranked.vec_id).select(
        "rank", "source", F.lit(0).alias("chunk_index"), F.col("text").alias("document")
    )
    return assemble_context(joined)


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id, 'blob' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    """,
    doc="Multimodal metadata surface: opaque binary payloads + typed meta "
    "(bytes stand in for image/audio; schema and plumbing are the real thing).",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import attach_binary

    media = attach_binary(table(spark, "documents", sf_dir))
    return media.select(
        "media_id",
        "kind",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("sha"),
    )


@register(
    "multimodal_features",
    # The corpus is pure ASCII (verified: max code point 121), so the byte
    # histogram the numpy kernel computes over utf-8 bytes equals a code
    # point histogram DuckDB can compute from characters — upgrading this
    # query from rows-only to a full value-hash oracle pair.  Bins probed:
    # 0 (control chars: \n), 2 (space/punct 0x20-0x2F), 6 and 7 (lowercase
    # letters 0x60-0x7A) — the mass of the distribution.
    oracle="""
    WITH chars AS (
      SELECT doc_id, unicode(c) // 16 AS bin
      FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS DOUBLE) AS total,
             CAST(count(*) FILTER (bin = 0) AS DOUBLE) AS c0,
             CAST(count(*) FILTER (bin = 2) AS DOUBLE) AS c2,
             CAST(count(*) FILTER (bin = 6) AS DOUBLE) AS c6,
             CAST(count(*) FILTER (bin = 7) AS DOUBLE) AS c7
      FROM chars GROUP BY 1
    )
    SELECT d.doc_id AS media_id,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           round(coalesce(c0 / greatest(total, 1.0), 0.0), 6) AS f0,
           round(coalesce(c2 / greatest(total, 1.0), 0.0), 6) AS f2,
           round(coalesce(c6 / greatest(total, 1.0), 0.0), 6) AS f6,
           round(coalesce(c7 / greatest(total, 1.0), 0.0), 6) AS f7
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    doc="binary -> feature vector via mapInPandas (16-bin byte histogram standing "
    "in for a codec+model); real Arrow batch shape, deterministic output.  "
    "Oracle-paired: the ASCII corpus makes the byte histogram equal a DuckDB "
    "character code-point histogram, so the driver value-hashes 4 probed bins.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import attach_binary, byte_histogram_features

    media = attach_binary(table(spark, "documents", sf_dir))
    feats = byte_histogram_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 3), 6).alias("f2"),
        F.round(F.element_at("features", 7), 6).alias("f6"),
        F.round(F.element_at("features", 8), 6).alias("f7"),
    )


@register(
    "multimodal_frames",
    # ASCII corpus: content = utf8(text), so byte frames are character
    # frames and DuckDB can md5 the same 64-byte windows (r4: was crc32,
    # rows-only — md5 made it oracle-replayable)
    oracle="""
    SELECT doc_id AS media_id,
           CAST(i AS INTEGER) AS frame_index,
           CAST(i * 64 AS BIGINT) AS byte_offset,
           md5(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS frame_md5
    FROM (SELECT doc_id, text,
                 unnest(range(0, CAST(least(8, greatest(1, length(text) // 64))
                                      AS BIGINT))) AS i
          FROM documents)
    """,
    doc="Deterministic stride frame sampling over binary payloads (video "
    "stand-in) via mapInPandas; per-frame md5 checksums oracle-paired over "
    "the ASCII corpus.",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import attach_binary, frame_sample

    media = attach_binary(table(spark, "documents", sf_dir))
    return frame_sample(media)


@register(
    "multimodal_thumbs",
    # ASCII corpus: the byte-stride resample equals a character-stride
    # resample, so DuckDB can rebuild each 64-byte thumbnail as a string and
    # md5 it — same hex as Spark's md5 over the binary.
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 AS INTEGER) AS height, CAST(8 AS INTEGER) AS width,
           md5(list_aggregate(
             list_transform(range(0, 64),
               i -> text[(i * greatest(length(text) // 64, 1)) % length(text) + 1]),
             'string_agg', '')) AS thumb_md5
    FROM documents
    """,
    doc="binary -> fixed-size thumbnail via mapInPandas (deterministic stride "
    "resample standing in for a pixel resizer; output is exactly h*w bytes).  "
    "Oracle-paired over the ASCII corpus via character-stride rebuild + md5.",
)
def multimodal_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import attach_binary, resize_thumbnail

    media = attach_binary(table(spark, "documents", sf_dir))
    thumbs = resize_thumbnail(media, height=8, width=8)
    return thumbs.select("media_id", "height", "width", F.md5(F.col("thumb")).alias("thumb_md5"))


@register(
    "stream_window_15m",
    oracle="""
    SELECT to_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT))::TIMESTAMP AS bucket_start,
           to_timestamp(CAST(floor(epoch(ts) / 900) * 900 + 900 AS BIGINT))::TIMESTAMP AS bucket_end,
           event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
    doc="The SAME tumbling_window operator under Structured Streaming "
    "(readStream -> complete mode -> memory sink), oracle-checked against "
    "the batch SQL — streaming/batch semantic parity, proven.",
)
def stream_window_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.streaming.pipeline import run_events_window_stream

    return run_events_window_stream(spark, sf_dir, minutes=15)


@register(
    "stream_sessionize_stateful",
    oracle=None,  # custom stateful streaming op — the contract's rows-only case
    doc="Incremental gap-sessionization via applyInPandasWithState with an "
    "EVENT-TIME TIMEOUT (withWatermark + EventTimeTimeout): closed sessions "
    "emit in append mode, and idle users' open sessions FLUSH (and their "
    "state is evicted) once the watermark passes last_ts + gap — so state "
    "is O(active users), not O(events), and never held forever on an "
    "unbounded stream.  Pytest-checked against the batch operator on "
    "closed + flushed sessions, including an idle-user flush case.",
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.streaming.stateful import run_sessionize_stream

    return run_sessionize_stream(spark, sf_dir)


_INDEX_PIPELINE_ORACLE = """
    WITH RECURSIVE
    w AS (
      SELECT doc_id, source, string_split(replace(text, ' ', chr(10)), chr(10)) AS ws
      FROM documents
    ),
    steps AS (
      SELECT doc_id, source, ws, 1 AS i, length(ws[1]) + 1 AS cur, 0 AS cidx
      FROM w WHERE len(ws) >= 1
      UNION ALL
      SELECT doc_id, source, ws, i + 1,
             CASE WHEN cur + length(ws[i+1]) + 1 > 400 THEN length(ws[i+1]) + 1
                  ELSE cur + length(ws[i+1]) + 1 END,
             CASE WHEN cur + length(ws[i+1]) + 1 > 400 THEN cidx + 1 ELSE cidx END
      FROM steps WHERE i < len(ws)
    ),
    assigned AS (SELECT doc_id, source, ws[i] AS line, i, cidx FROM steps),
    chunks AS (
      SELECT source || ':' || doc_id || ':' || cidx AS chunk_id,
             string_agg(line, chr(10) ORDER BY i) AS document
      FROM assigned GROUP BY doc_id, source, cidx
    ),
    seeds AS (
      SELECT chunk_id,
             CAST(('0x' || substr(md5(document), 1, 16))::UBIGINT % 2147483648 AS BIGINT)
               AS seed
      FROM chunks
    ),
    lcg(chunk_id, d, state) AS (
      SELECT chunk_id, 0, (seed * 1103515245 + 12345) % 2147483648 FROM seeds
      UNION ALL
      SELECT chunk_id, d + 1, (state * 1103515245 + 12345) % 2147483648
      FROM lcg WHERE d < 63
    ),
    rdims AS (
      SELECT chunk_id, d, CAST(state AS DOUBLE) / 2147483648.0 - 0.5 AS r FROM lcg
    ),
    vecs AS (
      SELECT chunk_id, list(r ORDER BY d) AS v FROM rdims GROUP BY chunk_id
    )
    SELECT chunk_id,
           round(list_dot_product(v, {q})
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product({q}, {q}))), 6)
             AS score
    FROM vecs
    ORDER BY score DESC, chunk_id ASC LIMIT 10
"""


@register(
    "index_pipeline",
    oracle=_INDEX_PIPELINE_ORACLE.format(
        q=f"{vector_sql_literal(fixed_query_vector(64))}::DOUBLE[]"
    ),
    doc="The reference's full lifecycle as ONE lazy plan: chunk (greedy udf) -> "
    "embed (deterministic udf) -> cosine top-10 against a fixed query vector.  "
    "Fully oracle-paired end-to-end: the recursive CTE replays the greedy "
    "chunker word-by-word (reference index.py:296-319 accounting) and the "
    "md5-seeded LCG embedder state-by-state, so the final hash verifies the "
    "WHOLE pipeline, pandas kernels included.",
)
def index_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.translate(F.col("text"), " ", "\n").alias("text")
    )
    chunks = chunk_ops.chunk_documents(docs, chunk_size=400)
    embedder = DeterministicEmbedder(dim=64)
    embedded = chunks.withColumn("embedding", embedder.embed_col(F.col("document")))
    return search.knn_topk(embedded, fixed_query_vector(64), k=10, id_col="chunk_id")


@register(
    "clean_corpus_pipeline",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ), m AS (
      SELECT doc_id, source, lang,
             CAST(len(words) AS INTEGER) AS n_tokens,
             CAST(len(list_filter(words, t -> t IN ('the', 'a', 'of', 'to', 'and')))
                  AS INTEGER) AS n_stop
      FROM d
    ), q AS (
      SELECT doc_id, source, lang, n_tokens,
             round((n_stop / n_tokens) * 0.5 + least(n_tokens, 100) / 100.0 * 0.5, 6) AS quality
      FROM m
    ), keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality
    FROM q JOIN keep USING (doc_id)
    WHERE lang = 'en' AND n_tokens >= 30 AND quality >= 0.3
    GROUP BY source
    """,
    doc="Composed training-data cleaning pipeline: language filter -> quality "
    "floor -> exact-dedup survivors -> per-source corpus stats.  One lazy "
    "plan; each stage is an already-tested operator (lang filter, "
    "textops.text_quality, dedup.exact_dedup as a semi-join).",
)
def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators import dedup, textops

    docs = table(spark, "documents", sf_dir)
    # quality is a pure projection of docs: compute it inline on the
    # lang-filtered scan (no join) — only the dedup check, which aggregates
    # at a different grain, needs a real (semi) join
    quality = textops.text_quality(docs.filter(F.col("lang") == "en"), carry_cols=("source",))
    keep_ids = dedup.exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    clean = quality.filter((F.col("n_tokens") >= 30) & (F.col("quality") >= 0.3)).join(
        keep_ids, "doc_id", "left_semi"
    )
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_quality"),
    )


_BUCKET = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"


@register(
    "sample_systematic",
    oracle=f"""
    SELECT doc_id, source, lang FROM documents
    WHERE {_BUCKET} % 10 = 0
    """,
    doc="Deterministic 1-in-10 systematic sample: membership is a pure "
    "function of md5(doc_id), so the sample is reproducible on any engine "
    "and stable under appends.  A scan-stage filter — composes with "
    "pushdown/pruning, no shuffle.",
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.sampling import systematic_sample

    return systematic_sample(
        table(spark, "documents", sf_dir), "doc_id", keep_one_in=10
    ).select("doc_id", "source", "lang")


@register(
    "dataset_split_counts",
    oracle=f"""
    WITH b AS (
      SELECT lang, {_BUCKET} % 100 AS bucket FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
    doc="Deterministic train/val/test assignment (80/10/10 by id-hash "
    "bucket) rolled up per language — the reproducible-holdout primitive "
    "of a training-data pipeline.",
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.sampling import assign_split

    docs = assign_split(table(spark, "documents", sf_dir), "doc_id")
    return docs.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "split_contamination",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             CASE WHEN {_BUCKET} % 100 < 80 THEN 'train'
                  WHEN {_BUCKET} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 1, 1)),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
      FROM b
    )
    SELECT t.doc_id AS test_doc, tr.doc_id AS train_doc, count(*) AS n_common
    FROM sh t JOIN sh tr ON t.shingle = tr.shingle
    WHERE t.split = 'test' AND tr.split = 'train'
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
    doc="Train/test decontamination: 3-gram shingle overlap between the "
    "hash-assigned test and train splits (pairs sharing >= 3 distinct "
    "shingles).  Shuffle is an equi-join on the shingle key — candidate "
    "volume scales with actual overlap, never |test| x |train|.",
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.functions.text import shingles_from_words, tokens
    from log_vector_spark.operators.sampling import assign_split

    docs = assign_split(table(spark, "documents", sf_dir), "doc_id")
    words = docs.select("doc_id", "split", tokens(F.col("text")).alias("words"))
    sh = words.select(
        "doc_id",
        "split",
        F.explode(F.array_distinct(shingles_from_words(F.col("words"), 3))).alias("shingle"),
    )
    t = sh.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    tr = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        t.join(tr, "shingle")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 3)
    )


@register(
    "bloom_decontaminate",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN {_BUCKET} % 100 < 80 THEN 'train'
                  WHEN {_BUCKET} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 1, 1)),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
      FROM b
    ),
    eg AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
    bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(s.salt AS VARCHAR) || ':' || shingle), 1, 8))
                  AS BIGINT) % 4096 AS pos
      FROM eg CROSS JOIN (VALUES (0), (1), (2)) AS s(salt)
    ),
    tg AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE split = 'train'),
    tp AS (
      SELECT doc_id, shingle, s.salt,
             CAST(('0x' || substr(md5(CAST(s.salt AS VARCHAR) || ':' || shingle), 1, 8))
                  AS BIGINT) % 4096 AS pos
      FROM tg CROSS JOIN (VALUES (0), (1), (2)) AS s(salt)
    ),
    m AS (
      SELECT tp.doc_id, tp.shingle, count(bits.pos) AS matched
      FROM tp LEFT JOIN bits ON tp.pos = bits.pos
      GROUP BY tp.doc_id, tp.shingle
    ),
    ex AS (SELECT tg.doc_id, tg.shingle, 1 AS ex FROM tg JOIN eg USING (shingle)),
    agg AS (
      SELECT m.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN m.matched = 3 THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
             CAST(sum(CASE WHEN ex.ex IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits
      FROM m LEFT JOIN ex ON m.doc_id = ex.doc_id AND m.shingle = ex.shingle
      GROUP BY m.doc_id
    )
    SELECT t.doc_id,
           coalesce(a.n_shingles, 0) AS n_shingles,
           coalesce(a.bloom_hits, 0) AS bloom_hits,
           coalesce(a.exact_hits, 0) AS exact_hits,
           coalesce(a.bloom_hits, 0) - coalesce(a.exact_hits, 0) AS false_positives,
           coalesce(a.bloom_hits, 0) > 0 AS bloom_flag,
           coalesce(a.exact_hits, 0) > 0 AS exact_flag
    FROM (SELECT doc_id FROM b WHERE split = 'train') t
    LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
    doc="Bloom-filter decontamination (GPT-3 appendix-C style, 3-gram "
    "granularity at fixture scale): the TEST split's distinct shingles "
    "are folded into an m=4096-bit / k=3 salted-md5 Bloom bitset, and "
    "every TRAIN document's shingles are probed against it — a shingle "
    "is bloom-positive iff all k of its bit positions are set.  The "
    "bitset is the whole point at 100 TB: it is O(m) CONSTANT rows "
    "(<=4096 here) regardless of eval-set size, broadcast to every "
    "executor, so the train-side scan never shuffles on the shingle key "
    "and never joins |train| x |eval| — contrast split_contamination, "
    "whose exact equi-join this query carries along only as the audit "
    "(exact_hits / false_positives columns; CMS-style, the estimator "
    "ships with its ground truth).  Bloom guarantees no false negatives, "
    "so bloom_hits >= exact_hits row-by-row; m is kept deliberately "
    "small so the fixture shows a nonzero false-positive rate.  Every "
    "train doc gets a row (left join from the split assignment — "
    "shingle-less docs report zeros, the repetition_stats contract).",
)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.functions.text import shingles_from_words, tokens
    from log_vector_spark.operators.sampling import assign_split

    docs = assign_split(table(spark, "documents", sf_dir), "doc_id")
    words = docs.select("doc_id", "split", tokens(F.col("text")).alias("words"))
    sh = words.select(
        "doc_id",
        "split",
        F.explode(F.array_distinct(shingles_from_words(F.col("words"), 3))).alias("shingle"),
    )
    salts = F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("salt")

    def bloom_pos() -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("salt").cast("string"), F.lit(":"), F.col("shingle"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 4096
        ).alias("pos")

    eg = sh.filter(F.col("split") == "test").select("shingle").distinct()
    bits = eg.select("shingle", salts).select(bloom_pos()).distinct()
    tg = sh.filter(F.col("split") == "train").select("doc_id", "shingle").distinct()
    tp = tg.select("doc_id", "shingle", salts).select("doc_id", "shingle", "salt", bloom_pos())
    m = (
        tp.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "shingle")
        .agg(F.count("hit").alias("matched"))
    )
    ex = tg.join(eg.withColumn("ex", F.lit(1)), "shingle").select("doc_id", "shingle", "ex")
    agg = (
        m.join(ex, ["doc_id", "shingle"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("matched") == 3, 1).otherwise(0))
            .cast("bigint")
            .alias("bloom_hits"),
            F.sum(F.when(F.col("ex").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("exact_hits"),
        )
    )
    base = docs.filter(F.col("split") == "train").select("doc_id")
    out = base.join(agg, "doc_id", "left")
    bh = F.coalesce(F.col("bloom_hits"), F.lit(0).cast("bigint"))
    eh = F.coalesce(F.col("exact_hits"), F.lit(0).cast("bigint"))
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_shingles"), F.lit(0).cast("bigint")).alias("n_shingles"),
        bh.alias("bloom_hits"),
        eh.alias("exact_hits"),
        (bh - eh).alias("false_positives"),
        (bh > 0).alias("bloom_flag"),
        (eh > 0).alias("exact_flag"),
    )


# --- sequence packing (round 3) --------------------------------------------

from log_vector_spark.operators import packing as packing_ops  # noqa: E402


@register(
    "pack_offsets",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks
      FROM documents
    ), c AS (
      SELECT *, CAST(sum(toks) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_toks
      FROM t
    )
    SELECT doc_id, source, toks, cum_toks,
           CAST(floor((cum_toks - toks) / 256.0) AS INTEGER) AS first_bin,
           CAST(floor((cum_toks - 1) / 256.0) AS INTEGER) AS last_bin,
           CAST(floor((cum_toks - toks) / 256.0) AS INTEGER)
             <> CAST(floor((cum_toks - 1) / 256.0) AS INTEGER) AS spans_boundary
    FROM c
    """,
    doc="Concat-then-split sequence packing at a 256-token budget: cumulative "
    "token offsets per source -> first/last bin per document and the "
    "boundary-spanning flag a packed-shard writer needs.  Pure window "
    "arithmetic, one shuffle on the group key "
    "(operators/packing.py:pack_offsets).",
)
def pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing_ops.pack_offsets(table(spark, "documents", sf_dir), budget=256)


@register(
    "pack_next_fit",
    # The sequential bin state is a per-group fold — replayed exactly by a
    # recursive CTE stepping documents in id order (same technique as the
    # chunk_greedy / index_pipeline oracles); tests/test_packing.py pins the
    # budget/order/determinism properties besides.
    oracle="""
    WITH RECURSIVE
    t AS (
      SELECT source, doc_id,
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks
      FROM documents
    ),
    ordered AS (
      SELECT source, doc_id, toks,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS i
      FROM t
    ),
    rec(source, i, doc_id, toks, bin_id, bin_fill) AS (
      SELECT source, i, doc_id, toks, 0, toks FROM ordered WHERE i = 1
      UNION ALL
      SELECT o.source, o.i, o.doc_id, o.toks,
             CASE WHEN r.bin_fill > 0 AND r.bin_fill + o.toks > 256
                  THEN r.bin_id + 1 ELSE r.bin_id END,
             CASE WHEN r.bin_fill > 0 AND r.bin_fill + o.toks > 256
                  THEN o.toks ELSE r.bin_fill + o.toks END
      FROM rec r JOIN ordered o ON o.source = r.source AND o.i = r.i + 1
    )
    SELECT source, doc_id, toks, CAST(bin_id AS INTEGER) AS bin_id, bin_fill
    FROM rec
    """,
    doc="Greedy next-fit packing at a 256-token budget: whole documents "
    "only, new bin when the next document doesn't fit.  Sequential state -> "
    "applyInPandas per source, parallel across sources "
    "(operators/packing.py:pack_next_fit); the oracle replays the fold as a "
    "recursive CTE.",
)
def pack_next_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing_ops.pack_next_fit(table(spark, "documents", sf_dir), budget=256)


@register(
    "pack_boundary_report",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks
      FROM documents
    ), c AS (
      SELECT *, CAST(sum(toks) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_toks
      FROM t
    ), seg AS (
      SELECT source,
             CAST(b AS BIGINT) AS bin,
             least(cum_toks, (b + 1) * 256) - greatest(cum_toks - toks, b * 256) AS seg
      FROM c, unnest(generate_series(
             CAST(floor((cum_toks - toks) / 256.0) AS BIGINT),
             CAST(floor((cum_toks - 1) / 256.0) AS BIGINT))) AS u(b)
    ), bins AS (
      SELECT source, bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(seg) AS BIGINT) AS s,
             CAST(sum(seg * (seg + 1) / 2) AS BIGINT) AS within_pairs
      FROM seg GROUP BY source, bin
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS multi_doc_bins,
           round(avg(n_docs), 6) AS avg_docs_per_bin,
           CAST(sum(s * (s + 1) / 2) AS BIGINT) AS total_pairs,
           CAST(sum(s * (s + 1) / 2 - within_pairs) AS BIGINT) AS cross_pairs,
           round(sum(s * (s + 1) / 2 - within_pairs) * 1.0
                 / sum(s * (s + 1) / 2), 6) AS cross_attention_share
    FROM bins GROUP BY source ORDER BY source
    """,
    doc="Cross-document attention contamination of mask-free concat-then-"
    "split packing (beyond-reference: THE number that decides whether a "
    "packed pretraining shard needs boundary attention masks / EOS "
    "resets): pack_offsets' 256-token bins are decomposed into per-"
    "document segments (a doc spanning k bins explodes into k segment "
    "rows — output is linear, <= n_docs + n_bins rows), and for each bin "
    "with segment lengths L1..Lk under causal attention the cross-doc "
    "attention-pair share is 1 - sum(Li(Li+1)/2) / (S(S+1)/2).  Reported "
    "per source: bins, multi-doc bin share, and the token-pair-weighted "
    "cross-attention share — all exact integer math until the final "
    "shares.  Same single window shuffle as pack_offsets plus one "
    "bounded hash agg; no joins.",
)
def pack_boundary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    offs = packing_ops.pack_offsets(table(spark, "documents", sf_dir), budget=256)
    seg_len = F.least(
        F.col("cum_toks"), (F.col("bin") + 1) * 256
    ) - F.greatest(F.col("cum_toks") - F.col("toks"), F.col("bin") * 256)
    seg = offs.select(
        "source",
        F.explode(
            F.sequence(
                F.col("first_bin").cast("bigint"), F.col("last_bin").cast("bigint")
            )
        ).alias("bin"),
        "cum_toks",
        "toks",
    ).select("source", "bin", seg_len.cast("bigint").alias("seg"))
    bins = seg.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("seg").cast("bigint").alias("s"),
        F.sum((F.col("seg") * (F.col("seg") + 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("within_pairs"),
    )
    tp = F.col("s") * (F.col("s") + 1) / 2
    return (
        bins.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("multi_doc_bins"),
            F.round(F.avg("n_docs"), 6).alias("avg_docs_per_bin"),
            F.sum(tp).cast("bigint").alias("total_pairs"),
            F.sum(tp - F.col("within_pairs")).cast("bigint").alias("cross_pairs"),
            F.round(
                F.sum(tp - F.col("within_pairs")) / F.sum(tp), 6
            ).alias("cross_attention_share"),
        )
        .orderBy("source")
    )


_RERANK_TERMS = ("table", "scan", "join", "filter", "query")


@register(
    "rag_rerank",
    oracle=f"""
    WITH scored AS (
      SELECT vec_id,
             round(list_cosine_similarity(embedding::DOUBLE[],
                   {vector_sql_literal(fixed_query_vector(64))}::DOUBLE[]), 6) AS score
      FROM embeddings
    ), cand AS (
      SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 20
    ), overl AS (
      SELECT c.vec_id, c.score,
             CAST(len(list_intersect(
                   list_distinct(list_filter(string_split(d.text, ' '), x -> x <> '')),
                   ['table', 'scan', 'join', 'filter', 'query'])) AS INTEGER) AS overlap
      FROM cand c JOIN documents d ON d.doc_id = c.vec_id
    )
    SELECT vec_id, score, overlap,
           CAST(row_number() OVER (ORDER BY overlap DESC, score DESC, vec_id ASC) AS INTEGER) AS rank
    FROM overl ORDER BY rank LIMIT 5
    """,
    doc="Retrieve-then-rerank: ANN/exact retrieval gets top-20 by cosine "
    "(cheap, recall-oriented), a second-stage scorer reranks to top-5 — "
    "here a lexical query-term-overlap score standing in for a "
    "cross-encoder (which would be a pandas_udf at the same spot; the "
    "plumbing — small candidate set, broadcast join to the doc table, "
    "rerank window — is identical).  The two-stage shape is what makes "
    "reranking affordable at 100 TB: the expensive scorer sees 20 rows, "
    "not the corpus.",
)
def rag_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from log_vector_spark.functions.text import distinct_tokens

    emb = table(spark, "embeddings", sf_dir)
    docs = table(spark, "documents", sf_dir)
    cand = search.knn_topk(emb, fixed_query_vector(64), k=20)
    overl = docs.join(F.broadcast(cand), docs.doc_id == cand.vec_id).select(
        "vec_id",
        "score",
        F.size(
            F.array_intersect(
                distinct_tokens(F.col("text")),
                F.array(*[F.lit(t) for t in _RERANK_TERMS]),
            )
        ).alias("overlap"),
    )
    return (
        overl.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("overlap"), F.desc("score"), F.asc("vec_id"))
            ),
        )
        .orderBy("rank")
        .limit(5)
    )


def _nested_scrub_sql(col: str) -> str:
    """The pii chain as one nested regexp_replace expression (fragment form
    of text_suite._pii_oracle, for composing into larger pipelines)."""
    from log_vector_spark.operators.textops import PII_PATTERNS

    out = col
    for _, pattern, token in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pattern}', '{token}', 'g')"
    return out


@register(
    "training_data_pipeline",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, lang, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ), m AS (
      SELECT doc_id, source, lang, text,
             CAST(len(words) AS INTEGER) AS n_tokens,
             CAST(len(list_filter(words, t -> t IN ('the', 'a', 'of', 'to', 'and')))
                  AS INTEGER) AS n_stop
      FROM d
    ), q AS (
      SELECT doc_id, source, text, n_tokens,
             round((n_stop / n_tokens) * 0.5 + least(n_tokens, 100) / 100.0 * 0.5, 6) AS quality
      FROM m WHERE lang = 'en'
    ), keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), pbgs AS ({_BIGRAMS_SQL}),
    ptoks AS ({_TOKS_SQL}),
    puni AS (SELECT tok, count(*) AS cu FROM ptoks GROUP BY tok),
    pbi AS (SELECT bg, count(*) AS cb FROM pbgs GROUP BY bg),
    pv AS (SELECT count(*) AS vsize FROM puni),
    plp AS (
      SELECT bg, log10(CAST(cb + 1 AS DOUBLE) / CAST(cu + vsize AS DOUBLE)) AS lp
      FROM pbi JOIN puni ON split_part(bg, ' ', 1) = puni.tok CROSS JOIN pv
    ),
    pper AS (
      SELECT doc_id, round(avg(lp), 6) AS alp
      FROM pbgs JOIN plp USING (bg) GROUP BY doc_id
    ),
    pb AS (SELECT round(quantile_cont(alp, 0.3333333333333333), 6) AS t1 FROM pper),
    pkeep AS (SELECT doc_id FROM pper CROSS JOIN pb WHERE alp >= t1),
    surv AS (
      SELECT q.doc_id, q.source, {_nested_scrub_sql('q.text')} AS scrubbed
      FROM q JOIN keep USING (doc_id) JOIN pkeep USING (doc_id)
      WHERE n_tokens >= 30 AND quality >= 0.3
    ), t AS (
      SELECT doc_id, source, scrubbed,
             CAST(len(list_filter(string_split(scrubbed, ' '), x -> x <> '')) AS BIGINT) AS toks
      FROM surv
    ), c AS (
      SELECT *, CAST(sum(toks) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_toks
      FROM t
    )
    SELECT doc_id, source, toks, cum_toks,
           CAST(floor((cum_toks - toks) / 256.0) AS INTEGER) AS first_bin,
           CAST(floor((cum_toks - 1) / 256.0) AS INTEGER) AS last_bin,
           md5(scrubbed) AS scrubbed_md5
    FROM c
    """,
    doc="The full training-data preparation chain as ONE lazy plan: language "
    "filter -> quality floor -> exact-dedup survivors -> CCNet perplexity "
    "gate (corpus-fit bigram LM, bottom tercile dropped) -> PII scrub -> "
    "token count -> concat-then-split packing assignment per source.  Every "
    "stage is an already-oracle-checked operator (text_quality, exact_dedup, "
    "perplexity_gate, scrub_pii, pack_offsets); the composition shuffles "
    "on the dedup hash agg, the two survivor semi-joins, the LM fit, and "
    "the packing window — everything else rides the scan stage.  "
    "Per-document output ready for a packed-shard writer.",
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from log_vector_spark.functions.text import tokens as tok_fn
    from log_vector_spark.operators import dedup, textops

    docs = table(spark, "documents", sf_dir)
    quality = textops.text_quality(docs.filter(F.col("lang") == "en"), carry_cols=("source", "text"))
    keep_ids = dedup.exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    ppl_ids = textops.perplexity_gate(docs).filter(F.col("ppl_pass")).select("doc_id")
    surv = (
        quality.filter((F.col("n_tokens") >= 30) & (F.col("quality") >= 0.3))
        .join(keep_ids, "doc_id", "left_semi")
        .join(ppl_ids, "doc_id", "left_semi")
        .select("doc_id", "source", textops.scrub_pii(F.col("text")).alias("scrubbed"))
    )
    t = surv.select(
        "doc_id", "source", "scrubbed", F.size(tok_fn(F.col("scrubbed"))).cast("bigint").alias("toks")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        t.withColumn("cum_toks", F.sum("toks").over(w))
        .select(
            "doc_id",
            "source",
            "toks",
            "cum_toks",
            F.floor((F.col("cum_toks") - F.col("toks")) / 256).cast("int").alias("first_bin"),
            F.floor((F.col("cum_toks") - 1) / 256).cast("int").alias("last_bin"),
            F.md5("scrubbed").alias("scrubbed_md5"),
        )
    )


@register(
    "audio_features_wav",
    oracle="""
    WITH n AS (SELECT unnest(range(400)) AS i),
    d AS (SELECT doc_id, 37 + (doc_id % 64) AS step FROM documents),
    s AS (SELECT doc_id, i, ((i * step) % 2000) - 1000 AS v FROM d CROSS JOIN n),
    z AS (
      SELECT doc_id, v,
             CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
                   AND ((v < 0) <> (lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0))
                  THEN 1 ELSE 0 END AS zc
      FROM s
    )
    SELECT doc_id AS media_id,
           8000 AS sample_rate,
           400 AS n_samples,
           CAST(max(abs(v)) AS INTEGER) AS peak,
           round(sqrt(avg(CAST(v * v AS DOUBLE))), 6) AS rms,
           CAST(sum(zc) AS INTEGER) AS zero_crossings
    FROM z GROUP BY doc_id
    """,
    doc="REAL audio codec path: deterministic integer test signal -> 16-bit "
    "PCM WAV bytes (stdlib wave) -> REAL decode -> peak/RMS/zero-crossing "
    "features, over mapInPandas.  The oracle replays the signal closed-form, "
    "so any encode/decode bug (endianness, sample width, framing) breaks the "
    "hash match — this is the audio-decode capability gap from round 2 made "
    "real for uncompressed containers (operators/multimodal.py:decode_audio; "
    "compressed formats remain import-gated on soundfile).",
)
def audio_features_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import audio_features_wav as afw

    return afw(table(spark, "documents", sf_dir))


@register(
    "image_stats_bmp",
    oracle="""
    WITH ys AS (SELECT unnest(range(16)) AS y),
    xs AS (SELECT unnest(range(15)) AS x),
    px AS (
      SELECT doc_id,
             ((doc_id * 31 + y * 15 + x) * 97 + 0) % 256 AS r,
             ((doc_id * 31 + y * 15 + x) * 97 + 7) % 256 AS g,
             ((doc_id * 31 + y * 15 + x) * 97 + 14) % 256 AS b
      FROM documents CROSS JOIN ys CROSS JOIN xs
    )
    SELECT doc_id AS media_id, 16 AS height, 15 AS width,
           round(avg(CAST(r AS DOUBLE)), 6) AS mean_r,
           round(avg(CAST(g AS DOUBLE)), 6) AS mean_g,
           round(avg(CAST(b AS DOUBLE)), 6) AS mean_b,
           round(avg(0.299 * r + 0.587 * g + 0.114 * b), 6) AS mean_luma
    FROM px GROUP BY doc_id
    """,
    doc="REAL image codec path: deterministic pixel pattern -> 24-bit BMP "
    "bytes -> REAL pure-numpy decode (bottom-up un-flip, BGR->RGB, 4-byte "
    "row padding at width 15) -> channel means + luminance, over "
    "mapInPandas.  The oracle computes the pattern closed-form, so any "
    "decode bug breaks the hash match (operators/multimodal.py:decode_image; "
    "PNG/JPEG remain import-gated on PIL).",
)
def image_stats_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import image_stats_bmp as isb

    return isb(table(spark, "documents", sf_dir))


@register(
    "image_thumbs_bmp",
    oracle="""
    WITH di AS (SELECT unnest(range(8)) AS i),
    dj AS (SELECT unnest(range(8)) AS j),
    dc AS (SELECT unnest(range(3)) AS c),
    sampled AS (
      SELECT doc_id,
             ((doc_id * 31 + ((i * 16) // 8) * 15 + ((j * 15) // 8)) * 97 + c * 7) % 256
               AS val
      FROM documents CROSS JOIN di CROSS JOIN dj CROSS JOIN dc
    )
    SELECT doc_id AS media_id, 8 AS thumb_h, 8 AS thumb_w,
           CAST(sum(val) AS BIGINT) AS checksum,
           round(avg(CAST(val AS DOUBLE)), 6) AS mean_value
    FROM sampled GROUP BY doc_id
    """,
    doc="REAL thumbnail path: BMP decode -> nearest-neighbor resize 16x15 -> "
    "8x8 on actual pixels; the integer checksum pins the resampler's exact "
    "index math ((dest*src)//dest per axis) against the closed-form oracle "
    "(operators/multimodal.py:resize_image).",
)
def image_thumbs_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import image_thumbs_bmp as itb

    return itb(table(spark, "documents", sf_dir))


@register(
    "image_thumbs_png",
    oracle="""
    WITH di AS (SELECT unnest(range(8)) AS i),
    dj AS (SELECT unnest(range(8)) AS j),
    dc AS (SELECT unnest(range(3)) AS c),
    sampled AS (
      SELECT doc_id,
             ((doc_id * 31 + ((i * 16) // 8) * 15 + ((j * 15) // 8)) * 97 + c * 7) % 256
               AS val
      FROM documents CROSS JOIN di CROSS JOIN dj CROSS JOIN dc
    )
    SELECT doc_id AS media_id, 8 AS thumb_h, 8 AS thumb_w,
           CAST(sum(val) AS BIGINT) AS checksum,
           round(avg(CAST(val AS DOUBLE)), 6) AS mean_value
    FROM sampled GROUP BY doc_id
    """,
    doc="Thumbnail pipeline through the REAL stdlib PNG codec (r4: zlib "
    "inflate + scanline unfiltering, closing the compressed-codec gap): "
    "same closed-form oracle as image_thumbs_bmp because both codecs are "
    "lossless — a decoder bug in either container format breaks its hash "
    "while the other stays green, isolating the fault to the codec.  "
    "operators/multimodal.py:decode_png.",
)
def image_thumbs_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import image_thumbs_png as itp

    return itp(table(spark, "documents", sf_dir))


@register(
    "store_integrity_audit",
    oracle="""
    WITH j AS (
      SELECT d.doc_id, e.vec_id, e.embedding
      FROM documents d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id
    )
    SELECT
      CAST(count(doc_id) AS BIGINT) AS n_docs,
      CAST(count(vec_id) AS BIGINT) AS n_vecs,
      CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_docs_without_vec,
      CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_vecs_orphaned,
      CAST(sum(CASE WHEN vec_id IS NOT NULL AND len(embedding) <> 64
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_bad,
      CAST(sum(CASE WHEN vec_id IS NOT NULL AND len(list_filter(
                      embedding::DOUBLE[], x -> abs(x) > 0)) = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs,
      CAST(sum(CASE WHEN vec_id IS NOT NULL AND len(list_filter(
                      embedding::DOUBLE[], x -> isnan(x) OR isinf(x))) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite_vecs
    FROM j
    """,
    doc="Store-integrity audit across the document and vector tables in ONE "
    "plan: matched/orphaned counts from a full outer join on the shared id, "
    "plus per-vector contract checks (dimension = 64, zero-vector "
    "embed-error sentinels, non-finite elements).  The admission gate a "
    "production vector store runs after every index build — one full outer "
    "shuffle join on the id plus scan-stage HOF checks, no broadcast, no "
    "collect; the output is a single counters row.",
)
def store_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir).select("doc_id")
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    j = docs.join(emb, docs.doc_id == emb.vec_id, "full_outer")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    has_vec = F.col("vec_id").isNotNull()
    zero_vec = F.size(F.filter(e, lambda x: F.abs(x) > 0)) == 0
    nonfinite = (
        F.size(F.filter(e, lambda x: F.isnan(x) | (F.abs(x) == float("inf")))) > 0
    )
    return j.agg(
        F.count("doc_id").alias("n_docs"),
        F.count("vec_id").alias("n_vecs"),
        F.sum((F.col("doc_id").isNotNull() & has_vec).cast("int")).cast("bigint").alias("n_matched"),
        F.sum(F.col("vec_id").isNull().cast("int")).cast("bigint").alias("n_docs_without_vec"),
        F.sum(F.col("doc_id").isNull().cast("int")).cast("bigint").alias("n_vecs_orphaned"),
        F.sum((has_vec & (F.size("embedding") != 64)).cast("int")).cast("bigint").alias("n_dim_bad"),
        F.sum((has_vec & zero_vec).cast("int")).cast("bigint").alias("n_zero_vecs"),
        F.sum((has_vec & nonfinite).cast("int")).cast("bigint").alias("n_nonfinite_vecs"),
    )


_SNAP_CACHE: dict[str, str] = {}


def _ensure_snapshot_root(spark: SparkSession, sf_dir: str) -> str:
    """Two-artifact deployment with TWO published cross-artifact snapshots
    (sources/snapshot.py): snapshot 0 = full docs + vectors artifacts;
    snapshot 1 = a COORDINATED delete (id % 10 == 0) applied to both and
    committed with one atomic manifest swap.  Built once per (process,
    sf_dir) into a session-lifetime temp dir (the index_store _ensure
    idiom); the returned plans stay lazy."""
    import os

    from log_vector_spark.session import session_tempdir
    from log_vector_spark.sources import snapshot as snap

    key = os.path.abspath(sf_dir)
    root = _SNAP_CACHE.get(key)
    if root is not None and os.path.exists(os.path.join(root, "_snapshot.json")):
        return root
    root = session_tempdir("lvs_snapshot_demo_")
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    vecs = table(spark, "embeddings", sf_dir).select("vec_id", "label")
    for ver, (df_d, df_v) in enumerate(
        [
            (docs, vecs),
            (
                docs.filter(F.col("doc_id") % 10 != 0),
                vecs.filter(F.col("vec_id") % 10 != 0),
            ),
        ]
    ):
        d_dir = os.path.join(root, f"docs_v{ver}")
        v_dir = os.path.join(root, f"vectors_v{ver}")
        df_d.write.mode("overwrite").parquet(d_dir)
        df_v.write.mode("overwrite").parquet(v_dir)
        snap.publish_snapshot(root, {"docs": d_dir, "vectors": v_dir})
    _SNAP_CACHE[key] = root
    return root


@register(
    "snapshot_consistency_audit",
    oracle="""
    WITH cur_d AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),
    cur_v AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 0)
    SELECT CAST(1 AS INTEGER) AS snapshot,
      CAST((SELECT count(*) FROM cur_d) AS BIGINT) AS n_docs,
      CAST((SELECT count(*) FROM cur_v) AS BIGINT) AS n_vecs,
      CAST((SELECT count(*) FROM cur_d JOIN cur_v ON vec_id = doc_id)
           AS BIGINT) AS n_matched,
      CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs_prev,
      CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vecs_prev,
      TRUE AS versions_coherent
    """,
    doc="Cross-artifact snapshot consistency audit (VERDICT r8 item 7): "
    "the per-artifact pointer swaps compose under ONE root-level "
    "_snapshot.json manifest (sources/snapshot.py) committed with a "
    "single atomic rename, so a reader can never join artifact A at "
    "version N+1 against artifact B at version N.  The audit resolves "
    "the live snapshot ONCE, reads both pinned artifacts (counts + "
    "referential join), time-travels to the pinned PREVIOUS snapshot "
    "(retention >= 2 keeps in-flight readers alive through a swap), and "
    "checks the manifest's version mapping is coherent.  Reader-during-"
    "multi-writer isolation and crash-before-publish behavior are pinned "
    "in tests/test_snapshot.py.",
)
def snapshot_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from log_vector_spark.sources import snapshot as snap

    root = _ensure_snapshot_root(spark, sf_dir)
    cur = snap.resolve_snapshot(root)
    prev = snap.resolve_snapshot(root, cur["snapshot"] - 1)
    d = spark.read.parquet(cur["artifacts"]["docs"]).select("doc_id")
    v = spark.read.parquet(cur["artifacts"]["vectors"]).select("vec_id")
    dp = spark.read.parquet(prev["artifacts"]["docs"]).select("doc_id")
    vp = spark.read.parquet(prev["artifacts"]["vectors"]).select("vec_id")
    coherent = all(
        os.path.basename(cur["artifacts"][n]).endswith(f"_v{cur['snapshot']}")
        for n in ("docs", "vectors")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    n_vecs = v.agg(F.count(F.lit(1)).alias("n_vecs"))
    n_matched = (
        d.join(v, d.doc_id == v.vec_id)
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    n_docs_prev = dp.agg(F.count(F.lit(1)).alias("n_docs_prev"))
    n_vecs_prev = vp.agg(F.count(F.lit(1)).alias("n_vecs_prev"))
    return (
        n_docs.crossJoin(F.broadcast(n_vecs))
        .crossJoin(F.broadcast(n_matched))
        .crossJoin(F.broadcast(n_docs_prev))
        .crossJoin(F.broadcast(n_vecs_prev))
        .select(
            F.lit(cur["snapshot"]).cast("int").alias("snapshot"),
            F.col("n_docs").cast("bigint"),
            F.col("n_vecs").cast("bigint"),
            F.col("n_matched").cast("bigint"),
            F.col("n_docs_prev").cast("bigint"),
            F.col("n_vecs_prev").cast("bigint"),
            F.lit(coherent).alias("versions_coherent"),
        )
    )


@register(
    "pack_efficiency",
    oracle="""
    WITH RECURSIVE
    t AS (
      SELECT source, doc_id,
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks
      FROM documents
    ),
    ordered AS (
      SELECT source, doc_id, toks,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS i
      FROM t
    ),
    rec(source, i, doc_id, toks, bin_id, bin_fill) AS (
      SELECT source, i, doc_id, toks, 0, toks FROM ordered WHERE i = 1
      UNION ALL
      SELECT o.source, o.i, o.doc_id, o.toks,
             CASE WHEN r.bin_fill > 0 AND r.bin_fill + o.toks > 256
                  THEN r.bin_id + 1 ELSE r.bin_id END,
             CASE WHEN r.bin_fill > 0 AND r.bin_fill + o.toks > 256
                  THEN o.toks ELSE r.bin_fill + o.toks END
      FROM rec r JOIN ordered o ON o.source = r.source AND o.i = r.i + 1
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
           CAST(sum(toks) AS BIGINT) AS total_toks,
           round(CAST(sum(toks) AS DOUBLE) / ((max(bin_id) + 1) * 256), 6)
             AS utilization,
           CAST(sum(CASE WHEN toks > 256 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oversized
    FROM rec GROUP BY source
    """,
    doc="Packing-efficiency report per source over the greedy next-fit "
    "packing (budget 256): bin count, token utilization (tokens / bin "
    "capacity), and oversized-document count — the numbers that decide "
    "whether the budget or the ordering needs to change before a packed- "
    "shard write.  One applyInPandas pass (parallel across sources) plus a "
    "per-source aggregate; the oracle replays the fold and aggregates it.",
)
def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = packing_ops.pack_next_fit(table(spark, "documents", sf_dir), budget=256)
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.max("bin_id") + 1).cast("bigint").alias("n_bins"),
        F.sum("toks").cast("bigint").alias("total_toks"),
        F.round(
            F.sum("toks").cast("double") / ((F.max("bin_id") + 1) * 256), 6
        ).alias("utilization"),
        F.sum((F.col("toks") > 256).cast("int")).cast("bigint").alias("n_oversized"),
    )


@register(
    "audio_trim_silence",
    oracle="""
    WITH d AS (
      SELECT doc_id, 37 + (doc_id % 64) AS step,
             doc_id % 50 AS h, (doc_id * 3) % 40 AS t
      FROM documents
    ),
    n AS (SELECT unnest(range(490)) AS i),
    s AS (
      SELECT doc_id, i, h + 400 + t AS total,
             CASE WHEN i < h OR i >= h + 400 THEN 0
                  ELSE ((i - h) * step) % 2000 - 1000 END AS v
      FROM d JOIN n ON n.i < h + 400 + t
    ),
    b AS (
      SELECT doc_id, total,
             min(i) FILTER (v <> 0) AS mn,
             max(i) FILTER (v <> 0) AS mx
      FROM s GROUP BY doc_id, total
    )
    SELECT b.doc_id AS media_id,
           CAST(b.total AS INTEGER) AS n_total,
           CAST(b.mn AS INTEGER) AS n_head,
           CAST(b.total - 1 - b.mx AS INTEGER) AS n_tail,
           CAST(b.mx - b.mn + 1 AS INTEGER) AS n_kept,
           round(sqrt(avg(CAST(s.v * s.v AS DOUBLE))), 6) AS rms_kept
    FROM b JOIN s ON s.doc_id = b.doc_id AND s.i BETWEEN b.mn AND b.mx
    GROUP BY b.doc_id, b.total, b.mn, b.mx
    """,
    doc="REAL codec silence trimming: doc-dependent zero padding around the "
    "deterministic signal -> 16-bit WAV encode -> REAL stdlib decode -> "
    "leading/trailing zero-run trim (interior zeros are content and stay) "
    "-> kept-span RMS, over mapInPandas.  The oracle replays pad+signal "
    "closed-form and trims with min/max-nonzero-index arithmetic — a trim "
    "off-by-one or codec framing bug breaks the hash "
    "(operators/multimodal.py:audio_trim_silence_wav).",
)
def audio_trim_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import audio_trim_silence_wav

    return audio_trim_silence_wav(table(spark, "documents", sf_dir))


@register(
    "store_snapshot_diff",
    oracle="""
    WITH old AS (SELECT doc_id, source, md5(text) AS h FROM documents),
    new AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 10 = 0 THEN md5(upper(text)) ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 17 <> 0
    ),
    j AS (
      SELECT coalesce(old.source, new.source) AS source,
             CASE WHEN new.doc_id IS NULL THEN 'removed'
                  WHEN old.doc_id IS NULL THEN 'added'
                  WHEN old.h <> new.h THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old FULL OUTER JOIN new USING (doc_id)
    )
    SELECT source, change, CAST(count(*) AS BIGINT) AS n
    FROM j GROUP BY source, change
    """,
    doc="Snapshot diff (the CDC/data-versioning primitive): old vs new "
    "store compared by content hash over a full outer join on the id — "
    "added/removed/changed/unchanged counts per source.  The 'new' "
    "snapshot is derived deterministically in the query (1-in-10 docs "
    "re-texted, 1-in-17 deleted) so both engines replay the same delta; "
    "with real table versions the derivation is just two reads.  One "
    "id-keyed shuffle join + scan-stage md5 — linear; the audit a "
    "pipeline runs before promoting a rebuilt index.",
)
def store_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir)
    old = docs.select("doc_id", "source", F.md5("text").alias("h"))
    new = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 10 == 0, F.md5(F.upper("text")))
        .otherwise(F.md5("text"))
        .alias("h"),
    )
    o = old.select(
        F.col("doc_id").alias("o_id"), F.col("source").alias("o_src"), F.col("h").alias("o_h")
    )
    n = new.select(
        F.col("doc_id").alias("n_id"), F.col("source").alias("n_src"), F.col("h").alias("n_h")
    )
    j = o.join(n, o.o_id == n.n_id, "full_outer").select(
        F.coalesce("o_src", "n_src").alias("source"),
        F.when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_id").isNull(), "added")
        .when(F.col("o_h") != F.col("n_h"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return j.groupBy("source", "change").agg(F.count(F.lit(1)).cast("bigint").alias("n"))


@register(
    "maxsim_topk",
    oracle=_INDEX_PIPELINE_ORACLE.format(
        q=f"{vector_sql_literal(fixed_query_vector(64))}::DOUBLE[]"
    ).rsplit("SELECT chunk_id,", 1)[0]
    + f"""
    , scored AS (
      SELECT CAST(string_split(chunk_id, ':')[2] AS BIGINT) AS doc_id,
             round(list_dot_product(v, {vector_sql_literal(fixed_query_vector(64))}::DOUBLE[])
                   / (sqrt(list_dot_product(v, v))
                      * sqrt(list_dot_product({vector_sql_literal(fixed_query_vector(64))}::DOUBLE[],
                                              {vector_sql_literal(fixed_query_vector(64))}::DOUBLE[]))), 6)
               AS score
      FROM vecs
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, max(score) AS maxsim
    FROM scored GROUP BY doc_id
    ORDER BY maxsim DESC, doc_id ASC LIMIT 10
    """,
    doc="Late-interaction retrieval (ColBERT-style MaxSim, single-vector "
    "query): documents are represented by PER-CHUNK embeddings; a "
    "document's score is the MAX chunk similarity, so long documents "
    "aren't penalized for off-topic sections the way single-vector "
    "pooling penalizes them.  Chunking and embedding reuse the oracle-"
    "replayable kernels (greedy chunker + md5-LCG embedder); the per-doc "
    "max is a hash aggregate (one row per doc crosses the shuffle) and "
    "the cut is a distributed top-k.  At scale the chunk embeddings are "
    "the stored form (the reference's own layout) — MaxSim is then one "
    "scan + agg over the chunk store, no new index needed.",
)
def maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.functions.vector import cosine_similarity, literal_vector

    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.translate(F.col("text"), " ", "\n").alias("text")
    )
    chunks = chunk_ops.chunk_documents(docs, chunk_size=400)
    embedder = DeterministicEmbedder(dim=64)
    embedded = chunks.withColumn("embedding", embedder.embed_col(F.col("document")))
    # chunk_id = source:doc_id:chunk_index (collision-safe reference scheme);
    # recover doc_id the same way the oracle does
    scored = embedded.select(
        F.split(F.col("chunk_id"), ":").getItem(1).cast("bigint").alias("doc_id"),
        F.round(
            cosine_similarity(F.col("embedding"), literal_vector(fixed_query_vector(64))), 6
        ).alias("score"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"), F.max("score").alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "doc_embedding_pool",
    oracle=_INDEX_PIPELINE_ORACLE.rsplit("SELECT chunk_id,", 1)[0]
    + """
    , unit AS (
      -- the embedder L2-normalizes each chunk vector (embed.py:86-88);
      -- replay the normalization before pooling
      SELECT rdims.chunk_id, d,
             r / sqrt(list_dot_product(v, v)) AS ur
      FROM rdims JOIN vecs ON rdims.chunk_id = vecs.chunk_id
    ),
    dims AS (
      SELECT CAST(string_split(chunk_id, ':')[2] AS BIGINT) AS doc_id, d, ur
      FROM unit
    )
    SELECT doc_id, CAST(d AS INTEGER) AS dim,
           round(CAST(sum(CAST(ur AS DECIMAL(28,20))) AS DOUBLE) / count(*), 6)
             AS pooled,
           CAST(count(*) AS BIGINT) AS n_chunks
    FROM dims GROUP BY doc_id, d
    """,
    doc="Document representations by MEAN-POOLING chunk embeddings (the "
    "single-vector sibling of maxsim_topk's late interaction): chunk + "
    "embed via the oracle-replayable kernels, then a per-(doc, dim) "
    "decimal-exact rounded mean — fold-order-proof, so the oracle match "
    "certifies every pooled coordinate.  Long-form output (doc, dim, "
    "value) keeps the compare cell-exact.  Scale: pooling is one linear "
    "hash agg keyed (doc_id, dim) with map-side combine; no window, no "
    "broadcast, no collect — the pooled table is the write-time artifact "
    "single-vector retrieval reads.",
)
def doc_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.translate(F.col("text"), " ", "\n").alias("text")
    )
    chunks = chunk_ops.chunk_documents(docs, chunk_size=400)
    embedder = DeterministicEmbedder(dim=64)
    embedded = chunks.withColumn("embedding", embedder.embed_col(F.col("document")))
    dims = embedded.select(
        F.split(F.col("chunk_id"), ":").getItem(1).cast("bigint").alias("doc_id"),
        F.posexplode(F.col("embedding")).alias("dim", "r"),
    )
    return dims.groupBy("doc_id", "dim").agg(
        F.round(
            F.sum(F.col("r").cast("decimal(28,20)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("pooled"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
    ).select("doc_id", F.col("dim").cast("int").alias("dim"), "pooled", "n_chunks")


# closed-form replay of the aHash bit computation (synthetic pixels ->
# 8x8 NN resize -> scaled-integer luma -> above-mean bits -> two words);
# shared by image_ahash_bmp and image_neardup_pairs
_AHASH_ORACLE_CTE = """
    WITH di AS (SELECT unnest(range(8)) AS i),
    dj AS (SELECT unnest(range(8)) AS j),
    px AS (
      SELECT doc_id, i, j,
             ((doc_id * 31 + ((i * 16) // 8) * 15 + ((j * 15) // 8)) * 97 + 0) % 256 AS r,
             ((doc_id * 31 + ((i * 16) // 8) * 15 + ((j * 15) // 8)) * 97 + 7) % 256 AS g,
             ((doc_id * 31 + ((i * 16) // 8) * 15 + ((j * 15) // 8)) * 97 + 14) % 256 AS b
      FROM documents CROSS JOIN di CROSS JOIN dj
    ),
    l AS (SELECT doc_id, i, j, 299 * r + 587 * g + 114 * b AS lum,
                 CAST(i * 8 + j AS BIGINT) AS idx
          FROM px),
    s AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS total FROM l GROUP BY doc_id),
    bits AS (
      SELECT l.doc_id, l.idx,
             CASE WHEN 64 * l.lum > s.total THEN 1 ELSE 0 END AS bit
      FROM l JOIN s USING (doc_id)
    ),
    ahash AS (
      SELECT doc_id AS media_id,
             CAST(sum(CASE WHEN idx < 32 THEN bit * CAST(pow(2, idx) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS w0,
             CAST(sum(CASE WHEN idx >= 32 THEN bit * CAST(pow(2, idx - 32) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS w1,
             CAST(sum(bit) AS INTEGER) AS n_bits
      FROM bits GROUP BY doc_id
    )
"""


@register(
    "image_ahash_bmp",
    oracle=_AHASH_ORACLE_CTE
    + """
    SELECT media_id, w0, w1, n_bits FROM ahash
    """,
    doc="Perceptual average-hash (aHash, the pHash-family baseline behind "
    "LAION-style image dedup): REAL BMP decode -> REAL 8x8 NN resize -> "
    "scaled-integer BT.601 luma -> above-mean bit per pixel, packed into "
    "the binquant two-word layout so the hashes feed the existing "
    "Hamming-pair/shortlist machinery directly.  All-integer threshold "
    "(64*luma > sum) — the closed-form oracle replays every bit, so a "
    "codec, resize, or threshold bug breaks the hash match.  "
    "operators/multimodal.py:image_ahash_bmp.",
)
def image_ahash_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import image_ahash_bmp as iab

    return iab(table(spark, "documents", sf_dir))


@register(
    "image_dup_groups",
    oracle=_AHASH_ORACLE_CTE
    + """
    SELECT min(media_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_members, w0, w1
    FROM ahash GROUP BY w0, w1
    """,
    doc="Exact-duplicate image groups: identical perceptual hashes "
    "collapsed to (rep, member count) by one linear hash agg — the "
    "duplicate-class compression stage that keeps near-dup pair "
    "generation off the c^2 cliff on duplicate-heavy corpora.  "
    "operators/multimodal.py:image_dup_groups.",
)
def image_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import image_dup_groups as idg

    return idg(table(spark, "documents", sf_dir))


@register(
    "image_neardup_pairs",
    oracle=_AHASH_ORACLE_CTE
    + """
    , g AS (
      SELECT min(media_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_members, w0, w1
      FROM ahash GROUP BY w0, w1
    )
    SELECT a.rep_id AS id_a, b.rep_id AS id_b,
           CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INTEGER)
             AS hamming,
           a.n_members AS n_a, b.n_members AS n_b
    FROM g a JOIN g b ON a.rep_id < b.rep_id
    WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 3
    """,
    doc="Near-duplicate image pairs (LAION-style) over DISTINCT-HASH group "
    "reps: identical hashes collapse to groups first (linear — a "
    "million-copy image contributes ONE rep, not 10^12 pairs; the naive "
    "all-members form measured 23.8x per decade on the duplicate-heavy "
    "replica, the group form is corpus-size-independent given fixed "
    "|distinct hashes|), then banded Hamming LSH: 4x16-bit bands, one "
    "equi-join, exact Hamming on candidates, pigeonhole-EXACT for "
    "threshold 3 — certified by the brute-force oracle.  "
    "operators/multimodal.py:image_neardup_pairs.",
)
def image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import image_neardup_pairs as inp

    return inp(table(spark, "documents", sf_dir))


@register(
    "chunk_overlap",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    s AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, 48)) AS st
      FROM d WHERE len(w) >= 1
    )
    SELECT doc_id,
           CAST((st - 1) / 48 AS INTEGER) AS chunk_idx,
           CAST(st - 1 AS INTEGER) AS start_token,
           CAST(least(64, len(w) - st + 1) AS INTEGER) AS n_tokens,
           array_to_string(w[st:st+63], ' ') AS chunk
    FROM s
    """,
    doc="Overlapping token-window chunking (window 64, stride 48 — "
    "consecutive chunks share 16 tokens of context): the RAG-standard "
    "splitter alongside the reference's greedy line chunker.  Pure "
    "Column work (guarded sequence of starts -> slice+concat -> one "
    "posexplode), zero Python, zero shuffle — scan-stage at any corpus "
    "size.  operators/chunk.py:chunk_documents_overlap.",
)
def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_ops.chunk_documents_overlap(
        table(spark, "documents", sf_dir), window=64, stride=48
    )


@register(
    "doc_knn_pooled",
    oracle=_INDEX_PIPELINE_ORACLE.rsplit("SELECT chunk_id,", 1)[0]
    + f"""
    , unit AS (
      SELECT rdims.chunk_id, d,
             r / sqrt(list_dot_product(v, v)) AS ur
      FROM rdims JOIN vecs ON rdims.chunk_id = vecs.chunk_id
    ),
    dims AS (
      SELECT CAST(string_split(chunk_id, ':')[2] AS BIGINT) AS doc_id, d, ur
      FROM unit
    ),
    pooled AS (
      SELECT doc_id, d,
             round(CAST(sum(CAST(ur AS DECIMAL(28,20))) AS DOUBLE) / count(*), 6)
               AS pv
      FROM dims GROUP BY doc_id, d
    ),
    dv AS (
      SELECT doc_id, list(pv ORDER BY d) AS v FROM pooled GROUP BY doc_id
    )
    SELECT doc_id, score FROM (
      SELECT doc_id,
             round(list_cosine_similarity(v::DOUBLE[],
                   {vector_sql_literal(fixed_query_vector(64))}::DOUBLE[]), 6) AS score
      FROM dv
    ) ORDER BY score DESC, doc_id ASC LIMIT 5
    """,
    doc="DOCUMENT-level retrieval over mean-pooled chunk vectors — the "
    "third rung of the retrieval-granularity ladder (chunk-level knn_topk, "
    "late-interaction maxsim_topk, pooled doc_knn_pooled): pool per "
    "(doc, dim) with the decimal-exact rounded mean (doc_embedding_pool's "
    "write-time artifact), assemble the ordered vector, score against the "
    "query with the shared list-cosine contract, distributed top-5.  "
    "Scale: the pooled table is dim-bounded rows per doc; assembly is one "
    "(doc)-keyed agg; scoring is a scan-stage fold + TakeOrdered — at "
    "100 TB the query reads the persisted pooled store, never re-pools.",
)
def doc_knn_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.translate(F.col("text"), " ", "\n").alias("text")
    )
    chunks = chunk_ops.chunk_documents(docs, chunk_size=400)
    embedder = DeterministicEmbedder(dim=64)
    embedded = chunks.withColumn("embedding", embedder.embed_col(F.col("document")))
    dims = embedded.select(
        F.split(F.col("chunk_id"), ":").getItem(1).cast("bigint").alias("doc_id"),
        F.posexplode(F.col("embedding")).alias("dim", "r"),
    )
    pooled = dims.groupBy("doc_id", "dim").agg(
        F.round(
            F.sum(F.col("r").cast("decimal(28,20)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("pv")
    )
    dv = pooled.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "pv"))),
            lambda s: s.getField("pv"),
        ).alias("v")
    )
    from log_vector_spark.operators import search as search_ops

    return search_ops.knn_topk(
        dv, fixed_query_vector(64), k=5, id_col="doc_id", vec_col="v"
    )


# (image, caption) alignment scores — SQL replay of the mapInPandas image
# tower + JVM caption tower (multimodal.py:caption_alignment_scores),
# shared by the registered gate and the exact-rank audit.
_CAPTION_SCORED_CTE = r"""
    img_tok AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bin
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    img AS (
      SELECT doc_id, bin, CAST(count(*) AS DOUBLE) AS c
      FROM img_tok GROUP BY 1, 2
    ),
    img_n AS (SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM img GROUP BY 1),
    cap_tok AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bin
      FROM (SELECT doc_id,
                   unnest(list_slice(string_split_regex(text, '\s+'), 1, 12)) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    cap AS (
      SELECT doc_id, bin, CAST(count(*) AS DOUBLE) AS c
      FROM cap_tok GROUP BY 1, 2
    ),
    scored AS (
      SELECT cap.doc_id,
             round(sum(cap.c * img.c / img_n.nrm) / sqrt(sum(cap.c * cap.c)), 6) AS score
      FROM cap
      JOIN img USING (doc_id, bin)
      JOIN img_n ON cap.doc_id = img_n.doc_id
      GROUP BY 1
    )
"""


def _caption_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import (
        attach_binary,
        caption_alignment_scores,
    )

    docs = table(spark, "documents", sf_dir)
    media = attach_binary(docs)
    # LAION-style short caption: the document's first 12 tokens
    captions = docs.select(
        F.col("doc_id").alias("media_id"),
        F.array_join(F.slice(F.split("text", r"\s+"), 1, 12), " ").alias("caption"),
    )
    return caption_alignment_scores(media, captions)


@register(
    "caption_alignment_gate",
    # The image encoder (token-hash histogram over the binary content,
    # mapInPandas) is SQL-replayable on the ASCII corpus because content =
    # utf8(text): DuckDB rebuilds the identical histogram from characters
    # with the repo's md5-bin idiom.  Gate = broadcast exact-percentile
    # threshold (Spark F.percentile == DuckDB quantile_cont, linear
    # interpolation at rank (N-1)p); scores AND the threshold round to 6dp
    # before the compare in both engines, so the boundary cannot
    # float-flip.  The single-partition exact-rank form is the opt-in
    # audit caption_alignment_rank_audit.
    oracle=f"""
    WITH {_CAPTION_SCORED_CTE},
    thr AS (SELECT round(quantile_cont(score, 0.25), 6) AS t FROM scored)
    SELECT doc_id AS media_id, score
    FROM scored, thr
    WHERE score >= t
    """,
    doc="Image-text alignment gate (VERDICT r6 item 6) — the LAION-style "
    "CLIP-score filter a multimodal pipeline gates (image, caption) pairs "
    "on.  Image tower = mapInPandas token-hash histogram over the opaque "
    "binary column (operators/multimodal.py:token_hash_features); caption "
    "tower = JVM-side sparse md5-bin counts; cosine via one sparse-dense "
    "equi-join; gate keeps pairs at/above the broadcast p25 score "
    "threshold (scale-safe per VERDICT r7 item 1 — no single-partition "
    "rank window).  Negative control (shuffled captions) pinned in "
    "tests/test_caption_alignment.py.",
)
def caption_alignment_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import caption_alignment_gate as gate

    return gate(_caption_scores(spark, sf_dir))


@register(
    "caption_alignment_rank_audit",
    audit=True,
    oracle=f"""
    WITH {_CAPTION_SCORED_CTE}
    SELECT doc_id AS media_id, score
    FROM (SELECT doc_id, score,
                 percent_rank() OVER (ORDER BY score, doc_id) AS pr
          FROM scored)
    WHERE pr >= 0.25
    """,
    doc="EXACT-RANK form of the caption alignment gate (the pre-r8 "
    "registered default): drops the worst quartile by (score, id) "
    "percent_rank through a global no-partition window — a deliberate "
    "single-partition sort, kept as an opt-in audit only (the "
    "lsh_candidate_pr_eval precedent, VERDICT r7 item 1).  The registered "
    "caption_alignment_gate is the broadcast-threshold form.",
)
def caption_alignment_rank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators.multimodal import caption_alignment_gate_rank

    return caption_alignment_gate_rank(_caption_scores(spark, sf_dir))


@register(
    "index_incremental",
    # Convergence oracle: after a stale v1 index (docs with doc_id%7==0
    # carried a mutated text) is incrementally refreshed against the real
    # corpus, the store content must equal a FROM-SCRATCH index of the
    # current corpus — the recursive CTE replays the greedy chunker and
    # hashes every chunk.  That the refresh re-embedded ONLY the stale
    # docs is pinned by the accumulator pytest
    # (tests/test_index_incremental.py), which a content hash cannot see.
    oracle="""
    WITH RECURSIVE
    w AS (
      SELECT doc_id, source, string_split(replace(text, ' ', chr(10)), chr(10)) AS ws
      FROM documents
    ),
    steps AS (
      SELECT doc_id, source, ws, 1 AS i, length(ws[1]) + 1 AS cur, 0 AS cidx
      FROM w WHERE len(ws) >= 1
      UNION ALL
      SELECT doc_id, source, ws, i + 1,
             CASE WHEN cur + length(ws[i+1]) + 1 > 400 THEN length(ws[i+1]) + 1
                  ELSE cur + length(ws[i+1]) + 1 END,
             CASE WHEN cur + length(ws[i+1]) + 1 > 400 THEN cidx + 1 ELSE cidx END
      FROM steps WHERE i < len(ws)
    ),
    assigned AS (SELECT doc_id, source, ws[i] AS line, i, cidx FROM steps),
    chunks AS (
      SELECT doc_id, source || ':' || doc_id || ':' || cidx AS chunk_id,
             string_agg(line, chr(10) ORDER BY i) AS document
      FROM assigned GROUP BY doc_id, source, cidx
    )
    SELECT chunk_id, md5(document) AS chunk_md5, (doc_id % 7 = 0) AS reindexed
    FROM chunks
    """.replace(
        "FROM documents",
        "FROM documents WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 = 0",
    ),
    doc="Incremental re-index with change detection (VERDICT r6 item 7; the "
    "reference README's documented-but-unimplemented incremental intent, "
    "SURVEY §2.2 note).  Builds a store from a stale corpus (docs with "
    "doc_id%7==0 mutated), then incrementally refreshes it against the real "
    "corpus via sources/store.py:index_incremental — fingerprint diff -> "
    "re-chunk/re-embed ONLY stale docs -> dynamic partition overwrite.  "
    "Output = final store content (chunk_id, chunk md5, reindexed flag); "
    "oracle = from-scratch index of the current corpus (convergence).",
)
def index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from log_vector_spark.operators.sampling import systematic_sample
    from log_vector_spark.session import session_tempdir
    from log_vector_spark.sources.store import (
        index_incremental as incr,
        read_chunks_incremental,
    )

    # registered on a 1-in-4 systematic sample (the sampled-eval
    # discipline): the query's job is to exercise the two-run incremental
    # plumbing per bench rep, and the double store build is ~4x the
    # index_pipeline cost unsampled.  Full-corpus behavior is pinned by
    # tests/test_index_incremental.py and available via
    # sources/store.py:index_incremental directly.
    docs = systematic_sample(
        table(spark, "documents", sf_dir), "doc_id", keep_one_in=4
    ).select("doc_id", "source", F.translate(F.col("text"), " ", "\n").alias("text"))
    stale = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit("\nstale"))
        ).otherwise(F.col("text")),
    )
    embedder = DeterministicEmbedder(dim=64)
    # session-lifetime store dir, removed at process exit, not in a
    # finally (VERDICT r7 item 4): the query returns the LAZY store read —
    # collecting the whole chunk store to the driver just to outlive a
    # finally-rmtree'd tempdir was the one O(corpus) driver
    # materialization in the registry
    store = session_tempdir("incr_store_")
    incr(stale, store, embedder, chunk_size=400)   # v1: stale index
    incr(docs, store, embedder, chunk_size=400)    # v2: incremental refresh
    if not os.path.isdir(os.path.join(store, "chunks_incr")):
        # an empty corpus never writes a store at all
        return spark.createDataFrame(
            [], "chunk_id string, chunk_md5 string, reindexed boolean"
        )
    return read_chunks_incremental(spark, store).select(
        "chunk_id",
        F.md5("document").alias("chunk_md5"),
        (F.col("doc_id") % 7 == 0).alias("reindexed"),
    )


_CLEAN_CORPUS_ORACLE = """
    WITH d AS (
      SELECT doc_id, source, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ), m AS (
      SELECT doc_id, source, lang,
             CAST(len(words) AS INTEGER) AS n_tokens,
             CAST(len(list_filter(words, t -> t IN ('the', 'a', 'of', 'to', 'and')))
                  AS INTEGER) AS n_stop
      FROM d
    ), q AS (
      SELECT doc_id, source, lang, n_tokens,
             round((n_stop / n_tokens) * 0.5 + least(n_tokens, 100) / 100.0 * 0.5, 6) AS quality
      FROM m
    ), keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality
    FROM q JOIN keep USING (doc_id)
    WHERE lang = 'en' AND n_tokens >= 30 AND quality >= 0.3
    GROUP BY source
"""


@register(
    "stream_training_ingest",
    # The composed streaming job's FOLDED sketch deltas must equal the
    # batch clean_corpus_pipeline — same oracle (on the same 1-in-4
    # systematic sample), so the driver hash-checks that gate -> dedup ->
    # sketch compose under one checkpoint without changing any stage's
    # semantics.  Multi-epoch + restart + replay behavior (full corpus)
    # is pinned in tests/test_stream_training_ingest.py.
    oracle=_CLEAN_CORPUS_ORACLE.replace(
        "FROM documents",
        "FROM documents WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 = 0",
    ),
    doc="Composed streaming training-data pipeline (VERDICT r6 item 5): "
    "quality gate -> cross-epoch exact-dedup -> encode -> mergeable "
    "sketch deltas + IVF index delta in ONE foreachBatch under ONE "
    "checkpoint (streaming/pipeline.py:run_stream_training_ingest).  "
    "Cross-epoch dedup is HISTORY-BOUNDED (VERDICT r7 item 3): broadcast "
    "Bloom pre-filter + exact confirmation against a fp-prefix "
    "partition-pruned store scan, never a full-history anti-join.  "
    "Output = the folded per-source stats deltas, oracle-paired against "
    "the batch pipeline they must converge to.  Registered on a 1-in-4 "
    "systematic sample (sampled-eval discipline — the job's embed + IVF "
    "write-time work is the registry's heaviest otherwise); the pytests "
    "drive the full corpus.",
)
def stream_training_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from log_vector_spark.streaming.pipeline import run_stream_training_ingest

    import os

    out = tempfile.mkdtemp(prefix="stream_training_")
    docs_path = os.path.join(sf_dir, "documents.parquet")
    # directory-of-part-files layout (sf1 decade replica): stream the table
    # directory itself; flat-file layout: glob-filter within sf_dir
    src_dir, glob = (
        (docs_path, "*.parquet")
        if os.path.isdir(docs_path)
        else (sf_dir, "documents.parquet")
    )
    # same bucket expression as operators/sampling.hash_bucket(doc_id, 4)
    sample = (
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) "
        "as bigint) % 4 = 0"
    )
    try:
        folded = run_stream_training_ingest(
            spark, src_dir, out, glob=glob, where=sample
        )
        rows = [
            (src, n, tot, avgq)
            for src, (n, tot, avgq) in sorted(folded["stats"].items())
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "source string, n_docs bigint, total_tokens bigint, avg_quality double",
    )


@register(
    "stream_training_ingest_batched",
    oracle=_CLEAN_CORPUS_ORACLE.replace(
        "FROM documents",
        "FROM documents WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 = 0",
    ),
    audit=True,
    doc="Batched-trigger twin of stream_training_ingest (VERDICT r9 item "
    "5): identical composed job, identical folded output and oracle, but "
    "maxFilesPerTrigger covers the whole source listing in ONE micro-"
    "batch — the availableNow-style catch-up shape a backfill runs.  "
    "Exists to MEASURE (not annotate) the decade harness's claim that "
    "the registered form's 11.5x/decade is per-trigger harness overhead "
    "(the sf1 replica has 16 part files = 16 micro-batches vs 1 at "
    "sf0.1), not data-scaled work: this form's trigger count is constant "
    "across scales, so its decade ratio IS the data work.  Audit, not "
    "registry: one composed streaming job in the per-round window is "
    "enough; run via registry.audits() or tools/scale_bench.py.",
)
def stream_training_ingest_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from log_vector_spark.streaming.pipeline import run_stream_training_ingest

    out = tempfile.mkdtemp(prefix="stream_training_b_")
    docs_path = os.path.join(sf_dir, "documents.parquet")
    src_dir, glob = (
        (docs_path, "*.parquet")
        if os.path.isdir(docs_path)
        else (sf_dir, "documents.parquet")
    )
    sample = (
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) "
        "as bigint) % 4 = 0"
    )
    try:
        folded = run_stream_training_ingest(
            spark, src_dir, out, max_files_per_trigger=64, glob=glob, where=sample
        )
        rows = [
            (src, n, tot, avgq)
            for src, (n, tot, avgq) in sorted(folded["stats"].items())
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "source string, n_docs bigint, total_tokens bigint, avg_quality double",
    )


@register(
    "stream_neardup_ingest",
    oracle="""
    WITH docs AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, greatest(len(words) - 1, 1)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS shingle
           FROM docs),
    h AS (SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
          FROM sh),
    seeded AS (SELECT doc_id, h, unnest(range(0, 8)) AS seed FROM h),
    sig AS (SELECT doc_id, seed,
                   min((h * (__MH_AS__[CAST(seed AS INTEGER) + 1]) + seed) % 2147483647) AS minhash
            FROM seeded GROUP BY 1, 2),
    bands AS (SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
                     md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS band_key
              FROM sig GROUP BY 1, 2)
    SELECT d.doc_id, d.source FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE b.doc_id = d.doc_id AND a.doc_id < d.doc_id)
    ORDER BY d.doc_id
    """.replace("__MH_AS__", f"[{', '.join(str(a) for a in __import__('log_vector_spark.operators.dedup', fromlist=['minhash_coeffs']).minhash_coeffs(8))}]"),
    doc="Cross-epoch NEAR-dup gate under a stream (beyond-reference: the "
    "MinHash-LSH analog of stream_training_ingest's exact-fingerprint "
    "dedup — yesterday's near-copies must not re-enter today's shard).  "
    "A document survives iff no earlier-arriving document shares any LSH "
    "band bucket (the dedup_minhash_pairs hash family), so the streamed "
    "survivor set is closed-form: NOT EXISTS a lower-id band collision.  "
    "Probe is history-BOUNDED: broadcast Bloom over stored band keys "
    "clears definitely-unseen buckets (no false negatives), probable "
    "hits confirm against a (band, key-nibble) partition-pruned store "
    "scan — per batch O(collisions + Bloom FP), never O(history) "
    "(streaming/pipeline.py:run_stream_neardup_ingest).  Multi-epoch "
    "arrival-order parity, replay idempotence and the pruning pin live "
    "in tests/test_stream_neardup.py.",
)
def stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from log_vector_spark.streaming.pipeline import run_stream_neardup_ingest

    out = tempfile.mkdtemp(prefix="stream_neardup_")
    docs_path = os.path.join(sf_dir, "documents.parquet")
    src_dir, glob = (
        (docs_path, "*.parquet")
        if os.path.isdir(docs_path)
        else (sf_dir, "documents.parquet")
    )
    try:
        surv = run_stream_neardup_ingest(spark, src_dir, out, glob=glob)
        # survivors scale O(corpus): materialize them to EXECUTOR storage
        # (localCheckpoint blocks, distributed) before the temp sink is
        # removed — never collect a corpus-scaled relation to the driver
        # (VERDICT r10 item 2)
        surv = surv.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return surv


@register(
    "stream_neardup_ingest_batched",
    audit=True,
    doc="Batched-trigger twin of stream_neardup_ingest (the "
    "stream_training_ingest_batched precedent): identical job and "
    "survivor semantics, but maxFilesPerTrigger covers the whole source "
    "listing in one micro-batch — the backfill shape, and the form whose "
    "decade ratio measures data work rather than per-trigger harness "
    "overhead on multi-part replicas.",
)
def stream_neardup_ingest_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from log_vector_spark.streaming.pipeline import run_stream_neardup_ingest

    out = tempfile.mkdtemp(prefix="stream_neardup_b_")
    docs_path = os.path.join(sf_dir, "documents.parquet")
    src_dir, glob = (
        (docs_path, "*.parquet")
        if os.path.isdir(docs_path)
        else (sf_dir, "documents.parquet")
    )
    try:
        surv = run_stream_neardup_ingest(
            spark, src_dir, out, max_files_per_trigger=64, glob=glob
        )
        # executor-side materialization before sink cleanup — see
        # stream_neardup_ingest above (VERDICT r10 item 2)
        surv = surv.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return surv


@register(
    "multimodal_curation_pipeline",
    # Composition of three independently-oracle-paired stages in one lazy
    # plan; the oracle replays pixels, hash bits, and caption quality
    # closed-form, so a defect in ANY stage (codec, resize, threshold,
    # dedup grain, gate expression) breaks the hash match end-to-end.
    oracle="""
    WITH ys AS (SELECT unnest(range(16)) AS y),
    xs AS (SELECT unnest(range(15)) AS x),
    px AS (
      SELECT doc_id,
             ((doc_id * 31 + y * 15 + x) * 97 + 0) % 256 AS r,
             ((doc_id * 31 + y * 15 + x) * 97 + 7) % 256 AS g,
             ((doc_id * 31 + y * 15 + x) * 97 + 14) % 256 AS b
      FROM documents CROSS JOIN ys CROSS JOIN xs
    ),
    stats AS (
      SELECT doc_id, round(avg(0.299 * r + 0.587 * g + 0.114 * b), 6) AS mean_luma
      FROM px GROUP BY doc_id
    ),
    di AS (SELECT unnest(range(8)) AS i),
    dj AS (SELECT unnest(range(8)) AS j),
    hpx AS (
      SELECT doc_id, i, j,
             ((doc_id * 31 + ((i * 16) // 8) * 15 + ((j * 15) // 8)) * 97 + 0) % 256 AS r,
             ((doc_id * 31 + ((i * 16) // 8) * 15 + ((j * 15) // 8)) * 97 + 7) % 256 AS g,
             ((doc_id * 31 + ((i * 16) // 8) * 15 + ((j * 15) // 8)) * 97 + 14) % 256 AS b
      FROM documents CROSS JOIN di CROSS JOIN dj
    ),
    l AS (SELECT doc_id, 299 * r + 587 * g + 114 * b AS lum,
                 CAST(i * 8 + j AS BIGINT) AS idx
          FROM hpx),
    s AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS total FROM l GROUP BY doc_id),
    ahash AS (
      SELECT l.doc_id,
             CAST(sum(CASE WHEN idx < 32 AND 64 * lum > total
                           THEN CAST(pow(2, idx) AS BIGINT) ELSE 0 END) AS BIGINT) AS w0,
             CAST(sum(CASE WHEN idx >= 32 AND 64 * lum > total
                           THEN CAST(pow(2, idx - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS w1
      FROM l JOIN s USING (doc_id) GROUP BY l.doc_id
    ),
    reps AS (SELECT min(doc_id) AS doc_id FROM ahash GROUP BY w0, w1),
    tw AS (
      SELECT doc_id, source, lang,
             list_filter(string_split(text, ' '), t -> t <> '') AS words
      FROM documents
    ),
    tq AS (
      SELECT doc_id, source, lang,
             CAST(len(words) AS INTEGER) AS n_tokens,
             round((CAST(len(list_filter(words, t -> t IN ('the','a','of','to','and')))
                         AS INTEGER) / CAST(len(words) AS INTEGER)) * 0.5
                   + least(CAST(len(words) AS INTEGER), 100) / 100.0 * 0.5, 6) AS quality
      FROM tw
    ),
    pairs AS (
      SELECT tq.doc_id, tq.source, tq.n_tokens, stats.mean_luma
      FROM tq
      JOIN reps USING (doc_id)
      JOIN stats USING (doc_id)
      WHERE tq.lang = 'en' AND tq.n_tokens >= 30 AND tq.quality >= 0.3
        AND stats.mean_luma >= 127.5
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(CAST(mean_luma AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS avg_luma,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM pairs GROUP BY source
    """,
    doc="Composed multimodal curation funnel (the clean_corpus_pipeline of "
    "the image-caption family, LAION recipe order): REAL BMP decode -> "
    "brightness gate (mean_luma >= 127.5; the synthetic fixture's luma "
    "spread is narrow, so the threshold sits at its median — the STAGE "
    "is the point) -> perceptual-aHash exact-dup collapse to group reps "
    "-> caption quality gate (lang/tokens/quality, the text pipeline's "
    "expressions) -> per-source pair stats.  ONE lazy plan over one "
    "documents scan + two mapInPandas image kernels; all three stages "
    "reuse already-oracle-paired operators.",
)
def multimodal_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_vector_spark.operators import textops
    from log_vector_spark.operators.multimodal import (
        image_ahash_bmp as iab,
        image_stats_bmp as isb,
    )

    docs = table(spark, "documents", sf_dir)
    stats = isb(docs).select("media_id", "mean_luma")
    reps = (
        iab(docs)
        .groupBy("w0", "w1")
        .agg(F.min("media_id").alias("media_id"))
        .select("media_id")
    )
    tq = textops.text_quality(
        docs.filter(F.col("lang") == "en"), carry_cols=("source",)
    ).filter((F.col("n_tokens") >= 30) & (F.col("quality") >= 0.3))
    pairs = (
        tq.join(reps, tq.doc_id == reps.media_id)
        .join(stats.filter(F.col("mean_luma") >= 127.5).withColumnRenamed("media_id", "m2"),
              F.col("doc_id") == F.col("m2"))
    )
    return pairs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("mean_luma").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_luma"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@register(
    "training_sequences",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, words,
             CAST(sum(len(words)) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
               - len(words) AS doc_off
      FROM d
    ),
    tok AS (
      SELECT source,
             doc_off + u.i - 1 AS gpos,
             ('0x' || substr(md5(u.tok), 1, 8))::BIGINT % 50257 AS tid
      FROM c, LATERAL (
        SELECT unnest(words) AS tok, unnest(range(1, len(words) + 1)) AS i
      ) AS u
    ),
    seq AS (
      SELECT source, CAST(gpos // 256 AS BIGINT) AS bin,
             CAST(gpos % 256 AS BIGINT) AS off, tid
      FROM tok
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS seq_len,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY off)) AS seq_md5
    FROM seq GROUP BY source, bin ORDER BY source, bin
    """,
    doc="Materialized training-ready packed sequences — the TERMINAL "
    "operator of the pipeline (corpus in, trainer-shaped sequences out): "
    "per source, documents concatenate in doc_id order as deterministic "
    "hash token ids (md5-derived, vocab 50257) and the stream is cut "
    "into 256-token sequences — the same arithmetic pack_offsets proves "
    "at doc grain, materialized at TOKEN grain, with each sequence's "
    "content certified by an order-exact md5 over its ids (a defect in "
    "tokenization, offsets, bin math, or within-bin order breaks the "
    "hash).  Shape: one doc-grain window (the pack_offsets shuffle) + "
    "one token explode + one hash agg keyed (source, bin) — token rows "
    "cross the shuffle once, which IS the cost of writing shards; no "
    "sort beyond the per-sequence 256-element aggregation.  At 100 TB "
    "this plan's output partitioning (source, bin) is exactly the "
    "physical layout of the packed .bin export.",
)
def training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from log_vector_spark.functions.text import tokens as _tokens

    d = table(spark, "documents", sf_dir).select(
        "doc_id", "source", _tokens(F.col("text")).alias("words")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    c = d.withColumn(
        "doc_off",
        F.sum(F.size("words")).over(w).cast("bigint") - F.size("words"),
    )
    tok = c.select(
        "source",
        "doc_off",
        F.posexplode("words").alias("i", "tok"),
    ).select(
        "source",
        (F.col("doc_off") + F.col("i")).alias("gpos"),
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % 50257
        ).alias("tid"),
    )
    seq = tok.select(
        "source",
        (F.col("gpos") / 256).cast("bigint").alias("bin"),
        (F.col("gpos") % 256).cast("bigint").alias("off"),
        "tid",
    )
    return (
        seq.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("seq_len"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("off", "tid"))
                        ),
                        lambda s: s["tid"].cast("string"),
                    ),
                )
            ).alias("seq_md5"),
        )
        .orderBy("source", "bin")
    )
