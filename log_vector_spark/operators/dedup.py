"""Deduplication operators — the LLM-training-pipeline extension surface.

The reference ingests a corpus with no dedup at all (SURVEY §2.7); at 100 TB
dedup is the first mandatory stage.  Five strategies, each chosen for its
shuffle profile:

* exact / fingerprint:   one hash groupBy — single shuffle on the hash key,
                         map-side combine does most of the work.
* MinHash + LSH banding: shingle-explode -> per-(doc, seed) min-hash (partial
                         agg) -> band-key equi-join.  The join is on band
                         buckets, never all-pairs: candidate volume scales
                         with collision density, not n².
* SimHash:               bit-vote aggregation (explode tokens × 32 bit
                         positions -> sum votes); near-dup pairs via
                         xor+bit_count inside a blocked equi-join.
* n-gram Jaccard:        exact verify — distinct-shingle self-equi-join with
                         per-pair intersection counts; blocked by a coarse
                         key to bound the candidate set.
* embedding cosine:      semantic near-dup — blocked similarity join plus
                         anti-join to keep one survivor per duplicate pair.

All expressed with built-ins only (md5 / explode / groupBy / window) so the
whole family stays in whole-stage codegen and partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from log_vector_spark.functions.text import (
    bag_fingerprint,
    distinct_tokens,
    nibble,
    shingles_from_words,
    tokens,
)
from log_vector_spark.functions.vector import cosine_similarity


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by content hash; keep the lowest id as survivor.

    Returns (text_hash, keep_doc_id, n_dups).  One shuffle on the 32-byte
    hash; partial aggregation combines before the exchange.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def fingerprint_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-exact dedup on the order-insensitive token-set fingerprint."""
    return (
        docs.select(bag_fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


MINHASH_P = 2147483647  # 2^31 - 1, Mersenne prime for the affine hash family


def minhash_coeffs(n_hashes: int) -> list[int]:
    """Deterministic odd multipliers for the affine MinHash family.

    Shared with the DuckDB oracle so both engines evaluate the identical
    integer hash family.
    """
    return [((1000003 ** (i + 1)) % MINHASH_P) | 1 for i in range(n_hashes)]


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, seed, minhash): per-seed min of an affine hash of each shingle.

    Relational MinHash: explode distinct shingles once, aggregate the n
    per-seed mins in one groupBy.  The min is computed map-side (partial
    agg), so the shuffle carries one row per doc, not per shingle.
    """
    mins = _minhash_columns(docs, n_hashes, shingle_n, id_col, text_col)
    # unpivot the column-wise mins into the (doc, seed, minhash) shape
    pairs = ", ".join(f"{i}, mh{i}" for i in range(n_hashes))
    return mins.selectExpr(id_col, f"stack({n_hashes}, {pairs}) AS (seed, minhash)")


def _minhash_columns(
    docs: DataFrame, n_hashes: int, shingle_n: int, id_col: str, text_col: str
) -> DataFrame:
    """One row per doc with mh0..mh{n-1} BIGINT columns.

    Two shapes matter at scale:

    * the n hashes are COLUMNS over the exploded shingles, aggregated as n
      mins in ONE groupBy — the shuffle stays at |docs| rows; the
      seed-explode alternative shuffles n x |shingles| rows (measured 2x
      slower at sf0.1).
    * the expensive digest runs ONCE per shingle: base = first 8 hex digits
      of md5(shingle) as an int, then the n family members are affine maps
      (base * a_i + i) mod 2^31-1 — integer mul/add in codegen instead of n
      md5 invocations (measured 6x: 5.6s -> 0.95s for the signature stage
      at sf0.1).  Products stay < 2^62, inside ANSI BIGINT.
    """
    words = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("words"))
    sh = words.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_from_words(F.col("words"), shingle_n))).alias("shingle"),
    )
    base = sh.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long") % MINHASH_P
    )
    coeffs = minhash_coeffs(n_hashes)
    return base.groupBy(id_col).agg(
        *[
            F.min((F.col("h") * F.lit(coeffs[i]) + F.lit(i)) % F.lit(MINHASH_P)).alias(f"mh{i}")
            for i in range(n_hashes)
        ]
    )


def _minhash_bands(
    docs: DataFrame,
    n_hashes: int,
    rows_per_band: int,
    shingle_n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, band, band_key) LSH band buckets — md5 of the band's minhashes
    in seed order."""
    if n_hashes % rows_per_band:
        raise ValueError("n_hashes must divide evenly into bands")
    mins = _minhash_columns(docs, n_hashes, shingle_n, id_col, text_col)
    n_bands = n_hashes // rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    return mins.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key"))


def minhash_incremental_survivors(
    corpus: DataFrame,
    batch: DataFrame,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental MinHash dedup: which NEW documents survive against an
    already-indexed corpus — the daily-ingest shape at 100 TB.

    A batch document is dropped when any of its LSH band buckets collides
    with (a) any corpus document, or (b) a more-senior (lower-id) batch
    document.  Crucially the corpus is never self-joined: the corpus side
    contributes only its band buckets (at scale these are precomputed at
    index time and stored partitioned by (band, band_key)), so per-ingest
    cost is |batch| band generation plus two equi-joins keyed on band
    buckets — independent of |corpus| beyond the join fan-in.
    """
    bc = _minhash_bands(corpus, n_hashes, rows_per_band, shingle_n, id_col, text_col)
    bb = _minhash_bands(batch, n_hashes, rows_per_band, shingle_n, id_col, text_col)
    hit_corpus = bb.join(bc, ["band", "band_key"], "left_semi").select(id_col)
    a = bb.select("band", "band_key", F.col(id_col).alias("id_a"))
    b = bb.select("band", "band_key", F.col(id_col).alias("id_b"))
    hit_batch = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_b").alias(id_col))
    )
    dups = hit_corpus.union(hit_batch).distinct()
    return batch.select(id_col).join(dups, id_col, "left_anti")


def minhash_band_pairs(
    docs: DataFrame,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_band: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    band_key = md5 of the band's minhashes in seed order; the candidate join
    is an equi-join on (band, band_key) — the classic sub-quadratic LSH
    candidate generation.  `keep_band=True` returns (band, id_a, id_b)
    rows (one per contributing band) for band-sweep evals like
    lsh_band_recall_curve.
    """
    bands = _minhash_bands(docs, n_hashes, rows_per_band, shingle_n, id_col, text_col)
    a = bands.select(F.col("band"), F.col("band_key"), F.col(id_col).alias("id_a"))
    b = bands.select(F.col("band"), F.col("band_key"), F.col(id_col).alias("id_b"))
    pairs = a.join(b, ["band", "band_key"]).filter(F.col("id_a") < F.col("id_b"))
    if keep_band:
        return pairs.select("band", "id_a", "id_b").distinct()
    return pairs.select("id_a", "id_b").distinct()


def minhash_band_pairs_capped(
    docs: DataFrame,
    max_bucket: int = 1024,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    for_clustering: bool = True,
) -> DataFrame:
    """Skew-hardened LSH candidate generation (VERDICT r8 item 8).

    A boilerplate-heavy corpus puts millions of near-identical documents
    into ONE band bucket, and the all-pairs expansion of that bucket is
    quadratic in its size — the one place the banded join's linearity
    breaks.  Buckets larger than ``max_bucket`` therefore expand as a
    STAR around the bucket's minimum id (hub) instead of all-pairs:
    per-bucket output drops M(M-1)/2 -> M-1 rows while the candidate
    graph keeps exactly the same connected components (every member still
    reaches every other through the hub — the star-contraction argument
    dedup_clusters already relies on).  Cluster-level consumers
    (dedup_clusters / survivors / dedup-aware weights) are bit-identical
    under the cap; only the raw pair LIST differs inside oversized
    buckets, so pairwise-verify pipelines should verify per-cluster after
    contraction.  Components equality is pinned in tests/test_dedup_skew.py
    on a boilerplate fixture; the skewed-replica decade row is in
    SCALE_r09.json.

    ``for_clustering`` makes that contract explicit at the call site
    (ADVICE r9): the capped output is safe ONLY for consumers that
    cluster candidates before acting (connected components, survivor
    picks, dedup-aware weights).  A caller that verifies individual pairs
    by actual similarity BEFORE clustering could lose edges inside
    oversized buckets (a member whose only surviving verified edge was to
    a non-hub member) — such callers must pass ``for_clustering=False``
    to get a loud error pointing at minhash_band_pairs, instead of a
    silent recall loss.

    The size aggregate and the self-join share the (band, band_key)
    shuffle key, so the cap costs no extra exchange over the uncapped
    join — one hash aggregate on already-co-partitioned data.  The band
    table feeds SIX plan positions (sizes, both all-pairs sides, star);
    the lazy checkpoint makes the MinHash signature stage compute once
    instead of per-plant (at scale the signatures are a persisted
    artifact anyway — the minhash_incremental_survivors posture).
    """
    if not for_clustering:
        raise ValueError(
            "minhash_band_pairs_capped emits a cluster-equivalent candidate "
            "graph, not the complete within-bucket pair list: oversized "
            "buckets are star-contracted, so verifying individual pairs "
            "BEFORE clustering can drop edges.  Use minhash_band_pairs for "
            "pairwise-verify pipelines, or verify per-cluster after "
            "contraction."
        )
    bands = _minhash_bands(
        docs, n_hashes, rows_per_band, shingle_n, id_col, text_col
    ).localCheckpoint(eager=False)
    sizes = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("_m"), F.min(id_col).alias("_hub")
    )
    bs = bands.join(sizes, ["band", "band_key"])
    small = bs.filter(F.col("_m") <= max_bucket)
    a = small.select("band", "band_key", F.col(id_col).alias("id_a"))
    b = small.select("band", "band_key", F.col(id_col).alias("id_b"))
    allp = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    star = (
        bs.filter((F.col("_m") > max_bucket) & (F.col(id_col) != F.col("_hub")))
        .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return allp.unionByName(star).distinct()


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over the distinct token set -> (doc_id, simhash).

    Each token contributes ±1 votes on 32 bit positions derived from the
    nibbles of md5(token); the sign of the vote sum sets each bit.  Pure
    explode + groupBy: two shuffles, both with partial aggregation.
    """
    toks = docs.select(F.col(id_col), F.explode(distinct_tokens(F.col(text_col))).alias("tok"))
    toks = toks.withColumn("hex", F.md5(F.col("tok")))
    bits = toks.withColumn("bitpos", F.explode(F.sequence(F.lit(0), F.lit(31))))
    # nibble index = bitpos >> 2 (1-based substr); bit value = (nibble >> (bitpos & 3)) & 1
    bits = bits.withColumn(
        "nib", nibble(F.col("hex").substr(F.shiftright(F.col("bitpos"), 2) + 1, F.lit(1)))
    )
    bits = bits.withColumn(
        "bitval", F.expr("shiftright(nib, CAST(bitpos % 4 AS INT)) & 1")
    ).withColumn("vote", F.col("bitval") * 2 - 1)
    votes = bits.groupBy(id_col, "bitpos").agg(F.sum("vote").alias("v"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bitpos)")).otherwise(F.lit(0))
        ).alias("simhash")
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    block_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance within blocks.

    The pair join is SALTED like search.blocked_pairs: a bare join on the
    block key is tiny by bytes but quadratic by CPU, so AQE's size-based
    coalescing can pack a skewed block onto one task (the round-1 lesson
    measured at 180s -> 4s on the cosine pairs).  Side A keyed by
    (block, pmod(hash(id), S)); side B replicated S times — every pair
    appears exactly once and spreads over #blocks x S tasks.
    """
    n_salts = 8
    h = simhash(docs, id_col, text_col).join(
        docs.select(id_col, block_col), id_col
    )
    a = h.select(
        F.col(block_col).alias("blk"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_salts)).cast("int").alias("salt"),
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("h_a"),
    )
    b = h.select(
        F.col(block_col).alias("blk"),
        F.explode(F.array(*[F.lit(s) for s in range(n_salts)])).alias("salt"),
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("h_b"),
    )
    pairs = a.join(b, ["blk", "salt"]).filter(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int"))
    return pairs.filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    shingle_n: int = 3,
    block_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold within blocks.

    Distinct-shingle self-equi-join on (block, shingle): intersection counts
    come from a groupBy over join hits; union size from per-doc shingle
    counts joined back.  Blocking bounds the candidate set the same way the
    LSH band join does for MinHash.
    """
    words = docs.select(
        F.col(id_col), F.col(block_col).alias("blk"), tokens(F.col(text_col)).alias("words")
    )
    sh = words.select(
        F.col(id_col),
        F.col("blk"),
        F.explode(F.array_distinct(shingles_from_words(F.col("words"), shingle_n))).alias("shingle"),
    )
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("blk"), F.col("shingle"), F.col(id_col).alias("id_a"))
    b = sh.select(F.col("blk"), F.col("shingle"), F.col(id_col).alias("id_b"))
    common = (
        a.join(b, ["blk", "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    j = (
        common.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def pair_evidence(
    docs: DataFrame,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXPLAINABLE near-dup audit: for every LSH band-candidate pair, the
    exact Jaccard plus the ``top_k`` RAREST shared shingles as a human-
    readable evidence string — what a curation reviewer reads before
    trusting (or overriding) a dedup decision.  Rarity (lowest corpus
    doc-frequency first) picks the most INFORMATIVE overlap: a shared
    boilerplate shingle says nothing, a shared unique phrase says
    everything.

    Scale: candidates come from the banded MinHash join (never all-pairs);
    the common-shingle relation is pair-candidates x their shingles
    (bounded by the LSH candidate volume); the evidence window partitions
    by pair — full parallelism across candidates, never a global sort.
    Output: (id_a, id_b, n_common, jaccard, evidence).
    """
    pairs = minhash_band_pairs(
        docs, n_hashes, rows_per_band, shingle_n, id_col, text_col
    )
    words = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("words"))
    sh = words.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_words(F.col("words"), shingle_n))
        ).alias("shingle"),
    )
    cnt = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = pairs.join(sh_a, "id_a").join(sh_b, ["id_b", "shingle"])
    nc = common.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    w = Window.partitionBy("id_a", "id_b").orderBy("df", "shingle")
    ev = (
        common.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .groupBy("id_a", "id_b")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("df", "shingle"))),
                    lambda s: s.getField("shingle"),
                ),
                " | ",
            ).alias("evidence")
        )
    )
    ca = cnt.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = cnt.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .join(nc, ["id_a", "id_b"], "left")
        .join(ev, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.coalesce("n_common", F.lit(0).cast("bigint")).alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_common", F.lit(0))),
                6,
            ).alias("jaccard"),
            F.coalesce("evidence", F.lit("")).alias("evidence"),
        )
    )


def embedding_near_dup_ivf_survivors(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup with IVF-list blocking — the label-free 100 TB path.

    `embedding_near_dup_survivors` needs a pre-existing block column; real
    corpora have none.  Here the block IS the IVF coarse-quantization list
    (nearest centroid), so the within-block pair join compares only vectors
    that are already semantically close — the same sub-quadratic candidate
    profile LSH gives, derived from the data itself.  At scale the
    assignment is persisted at write time (partition key = list_id) and
    this becomes a per-partition self-join with zero global shuffle.
    """
    from log_vector_spark.functions.vector import dot_product
    from log_vector_spark.operators.search import blocked_pairs, ivf_assign

    assigned = ivf_assign(vectors, centroids, id_col, vec_col).select(
        id_col, "list_id", vec_col
    )
    dup_ids = (
        blocked_pairs(assigned, "list_id", id_col, vec_col)
        .filter(F.round(dot_product(F.col("vec_a"), F.col("vec_b")), 6) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return vectors.join(dup_ids, id_col, "left_anti").select(id_col)


def embedding_near_dup_survivors(
    vectors: DataFrame,
    threshold: float = 0.35,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup: drop any vector with a more-senior (lower-id) neighbor
    at cosine >= threshold inside its block; anti-join keeps survivors.

    DEFAULT BLOCKING IS IVF (block_col=None): delegates to
    `embedding_near_dup_ivf_survivors` with sqrt-stride centroids — the
    label-free blocking whose candidate volume stays ~N^1.5 at any corpus
    size.  An explicit block_col (e.g. "label") is a SMALL-CORPUS OPT-IN:
    fixed block cardinality means within-block pairs grow quadratically
    (measured 5.8x runtime for 10x data, SCALE_r03.json).
    """
    from log_vector_spark.functions.vector import dot_product
    from log_vector_spark.operators.search import blocked_pairs, make_centroids

    if block_col is None:
        return embedding_near_dup_ivf_survivors(
            vectors,
            make_centroids(vectors, vec_id=id_col, vec_col=vec_col),
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
        )

    dup_ids = (
        blocked_pairs(vectors, block_col, id_col, vec_col)  # pre-normalized
        .filter(F.round(dot_product(F.col("vec_a"), F.col("vec_b")), 6) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return vectors.join(dup_ids, id_col, "left_anti").select(id_col)


def semantic_lexical_pairs(
    vectors: DataFrame,
    docs: DataFrame,
    cos_threshold: float = 0.3,
    jac_threshold: float = 0.02,
    shingle_n: int = 3,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Two-stage CROSS-MODAL dedup audit: semantic candidates (IVF-blocked
    embedding pairs at cosine >= cos_threshold) annotated with their EXACT
    lexical n-gram Jaccard and a ``lexical_match`` verdict.

    This is the production near-dup recipe (SemDeDup-then-verify): the
    embedding stage recalls paraphrase-level duplicates that lexical
    methods miss, and the lexical stage separates true rewordings
    (high Jaccard) from topically-similar-but-distinct documents, which a
    pure-semantic threshold would over-merge.  Emitting BOTH scores per
    candidate (rather than only the verified survivors) makes this the
    audit surface for threshold calibration.

    The vec_id = doc_id layout contract links the two tables (the store's
    chunk/vector id scheme, sources/store.py).

    Scale: candidates come from the IVF-blocked pair join (~N^1.5, never
    all-pairs); the lexical verify joins the candidate PAIR relation to the
    exploded distinct-shingle relation — cost |candidates| x shingles/doc,
    linear in candidates, NOT a corpus-wide lexical self-join.  Shingle
    lookups shuffle on (doc_id) then (doc_id, shingle) — both uniform
    hash keys.  No corpus-scaled broadcast, no collect.
    """
    from log_vector_spark.functions.vector import dot_product
    from log_vector_spark.operators.search import blocked_pairs, ivf_assign, make_centroids

    assigned = ivf_assign(
        vectors, make_centroids(vectors, vec_id=vec_id, vec_col=vec_col), vec_id, vec_col
    ).select(vec_id, "list_id", vec_col)
    cand = (
        blocked_pairs(assigned, "list_id", vec_id, vec_col)
        .withColumn("cos_score", F.round(dot_product(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cos_score") >= cos_threshold)
        .select("id_a", "id_b", "cos_score")
    )
    words = docs.select(F.col(doc_id), tokens(F.col(text_col)).alias("words"))
    sh = words.select(
        F.col(doc_id),
        F.explode(
            F.array_distinct(shingles_from_words(F.col("words"), shingle_n))
        ).alias("shingle"),
    )
    cnt = sh.groupBy(doc_id).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col(doc_id).alias("id_a"), F.col("shingle"))
    sb = sh.select(F.col(doc_id).alias("id_b"), F.col("shingle"))
    common = (
        cand.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = cnt.select(F.col(doc_id).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = cnt.select(F.col(doc_id).alias("id_b"), F.col("n_sh").alias("n_b"))
    j = (
        cand.join(na, "id_a", "left")
        .join(nb, "id_b", "left")
        .join(common, ["id_a", "id_b"], "left")
    )
    denom = (
        F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0)) - F.coalesce("common", F.lit(0))
    )
    jac = F.when(denom > 0, F.round(F.coalesce("common", F.lit(0)) / denom, 6))
    return j.select(
        "id_a",
        "id_b",
        "cos_score",
        jac.alias("jaccard"),
        F.coalesce(jac >= jac_threshold, F.lit(False)).alias("lexical_match"),
    )


def semdedup_survivors(
    vectors: DataFrame,
    threshold: float = 0.35,
    k: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    cluster-scoped semantic dedup that keeps, within every duplicate
    group, the example with the LOWEST cosine similarity to its cluster
    centroid (the paper's keep rule: the farthest-from-centroid member
    preserves the most diversity).

    DEFAULT BLOCKING IS IVF (k=None): sqrt-stride centroids whose COUNT
    GROWS WITH THE CORPUS, so within-cluster pair volume stays ~N^1.5 —
    the same scale rule the paper itself applies (cluster count grows
    with corpus size: 50k clusters for LAION-440M).  Passing an explicit
    ``k`` opts into a FIXED-k Lloyd fit (operators/cluster.py kmeans_fit)
    — a small-corpus/fixture setting: fixed cluster cardinality makes the
    pair join quadratic in N, exactly the label-blocking anti-pattern
    measured in SCALE_r03.json.

    Either way the shape is: one scan-stage assignment against broadcast
    centroids with cosine-to-own-centroid computed in the same pass, then
    ONE within-cluster pair join on the unit vectors.  A vector is
    dropped when some same-cluster neighbor at pair-cosine >= threshold
    ranks ahead of it under (centroid_sim asc, id asc) — the
    deterministic star form of the paper's per-group argmin (exactly one
    survivor per duplicate star, no sequential scan).

    Returns ALL ids: (vec_id, cluster, centroid_sim, keep) — the gate
    column form every other dedup operator emits, so it composes into the
    curation funnel.  Nothing data-scaled broadcasts; the pair join is
    hash-partitioned on the cluster id.
    """
    from log_vector_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_normalize,
    )

    if k is None:
        from log_vector_spark.operators.search import ivf_assign, make_centroids

        cents = make_centroids(vectors, vec_id=id_col, vec_col=vec_col)
        assigned_ivf = ivf_assign(vectors, cents, id_col, vec_col)
        # cscore IS cos(member, its list centroid), rounded — the keep key
        members = assigned_ivf.select(
            F.col(id_col),
            F.col("list_id").alias("cid"),
            F.col("cscore").alias("centroid_sim"),
            l2_normalize(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("unit"),
        )
    else:
        from log_vector_spark.operators.cluster import kmeans_fit

        assigned, centroids = kmeans_fit(
            vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
        members = assigned.join(
            F.broadcast(centroids.select("cid", F.col("e").alias("ce"))), "cid"
        ).select(
            F.col(id_col),
            F.col("cid"),
            F.round(cosine_similarity(F.col("e"), F.col("ce")), 6).alias(
                "centroid_sim"
            ),
            l2_normalize(F.col("e")).alias("unit"),
        )
    # members is consumed THREE times (both pair-join sides + the final
    # gate join) and contains the IVF/Lloyd assignment crossJoin — without
    # a checkpoint that ~N^1.5 scoring subtree runs three times (measured
    # 7.8x/decade before, ~N^1.5 after; SCALE_r05)
    members = members.localCheckpoint(eager=False)
    a = members.select(
        F.col("cid"),
        F.col(id_col).alias("id_a"),
        F.col("centroid_sim").alias("cs_a"),
        F.col("unit").alias("u_a"),
    )
    b = members.select(
        F.col("cid"),
        F.col(id_col).alias("id_b"),
        F.col("centroid_sim").alias("cs_b"),
        F.col("unit").alias("u_b"),
    )
    # drop b when a close neighbor `a` ranks ahead under (centroid_sim, id)
    dropped = (
        a.join(b, "cid")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(F.round(dot_product(F.col("u_a"), F.col("u_b")), 6) >= threshold)
        .filter(
            (F.col("cs_a") < F.col("cs_b"))
            | ((F.col("cs_a") == F.col("cs_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        members.join(dropped, id_col, "left")
        .select(
            id_col,
            # bigint: IVF cluster ids are the stride-picked member ids
            F.col("cid").cast("bigint").alias("cluster"),
            "centroid_sim",
            (~F.coalesce(F.col("__dropped"), F.lit(False))).alias("keep"),
        )
    )


def _cc_star(edges: DataFrame, vertices: DataFrame, id_col: str, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star component labeling (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public paper).

    Edge-rewriting instead of label propagation: each round reconnects every
    node to the minimum of its neighborhood, provably converging in
    O(log^2 n) rounds (O(log n) observed) on ANY graph shape — the variant
    for adversarial long-chain graphs where per-cluster diameter is not
    small.  Representation: each undirected edge stored ONCE as (hi, lo)
    with hi > lo.

      large-star: for each u over its FULL neighborhood N(u),
                  m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u.
      small-star: for each hi endpoint a over its smaller neighbors N<(a),
                  m = min(N<(a)); emit (b, m) for b in N<(a)\\{m} and (a, m).

    Every emitted edge keeps hi > lo, so no re-canonicalization is needed.
    Per round: two groupBy+join passes and one distinct; the driver reads a
    single (count, hash-sum) row for the fixpoint check.  At the fixpoint
    the edge set is a union of stars centered at each component's minimum.
    """
    e = (
        edges.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: n * 2^63 stays far inside 38 digits, so the
            # signature never overflows (ANSI-safe); order-independent
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = signature(e)
    converged = sig[0] == 0
    for _ in range(max_iter):
        if converged:
            break
        sym = e.select("a", "b").unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )  # (u, neighbor) for every direction
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        large = (
            sym.filter(F.col("b") > F.col("a"))  # neighbors v strictly above u
            .join(mins, "a")
            .select(
                F.col("b").alias("a"),  # v > u >= m  ->  (v, m) is (hi, lo)
                F.least(F.col("mn"), F.col("a")).alias("b"),
            )
        )
        small_mins = large.groupBy("a").agg(F.min("b").alias("mn"))
        small = (
            large.join(small_mins, "a")
            .select(F.col("b").alias("v"), F.col("mn"))
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("a"), F.col("mn").alias("b"))
            .unionByName(small_mins.select("a", F.col("mn").alias("b")))
        )
        e = (
            small.filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = signature(e)
        converged = new_sig == sig
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge within {max_iter} rounds"
        )
    # fixpoint: stars (v, c) with c = component min; centers/isolated -> self
    labels = e.groupBy("a").agg(F.min("b").alias("lbl"))
    return (
        vertices.select(F.col(id_col).alias("v"))
        .join(labels.withColumnRenamed("a", "v"), "v", "left")
        .select(
            F.col("v").alias(id_col),
            F.coalesce(F.col("lbl"), F.col("v")).alias("cluster_id"),
        )
    )


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    algorithm: str = "jump",
) -> DataFrame:
    """Transitive dedup clusters: connected components over a near-dup pair
    set, each vertex labeled with the smallest id reachable from it.

    Pairwise dedup under-merges: if A~B and B~C but A!~C, keeping one doc
    per PAIR can still keep two of the trio.  Component labeling closes the
    relation so each near-dup cluster keeps exactly one canonical doc.

    Implementation: iterative min-label propagation —
      label(v) <- min(label(v), min over neighbors u of label(u))
    run until a fixpoint.  Each iteration is ONE distributed join + agg on
    (vertex, label); the driver only reads a 1-row convergence count.
    Near-dup graphs are unions of small-diameter clusters (near-duplicates
    of a doc are near-duplicates of each other), so the loop converges in
    O(cluster diameter) rounds, not O(|V|); ``localCheckpoint`` truncates
    the growing lineage each round so plan size stays constant.

    ``algorithm="star"`` switches to alternating large-star/small-star edge
    contraction (:func:`_cc_star`) — same results, provably fast on
    adversarial long-chain/high-diameter graphs where per-cluster diameter
    is not small (tests/test_properties.py pins 10k-chain convergence and
    jump/star agreement on random graphs).
    """
    if algorithm == "star":
        return _cc_star(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            vertices,
            id_col,
            max_iter,
        )
    if algorithm != "jump":
        raise ValueError(f"unknown algorithm {algorithm!r}: use 'jump' or 'star'")
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # materialize ONCE: the loop joins edges every round, and a lazy
        # edge plan would re-run the entire upstream pair generation
        # (e.g. the MinHash pipeline) per iteration
        .localCheckpoint(eager=True)
    )
    labels = vertices.select(F.col(id_col).alias("v"), F.col(id_col).alias("lbl"))
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.dst == labels.v)
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
            .withColumnRenamed("src", "v")
        )
        stepped = (
            labels.join(neigh, "v", "left")
            .select(
                "v",
                F.col("lbl").alias("old"),
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            )
            # lazy checkpoint (r12): both sides of the pointer-jump self-
            # join below read one persisted copy (single compute).  It is
            # not free of jobs: under AQE the call itself runs this frame's
            # shuffle map stages (the neighbour aggregate and the label
            # join); only the final stage waits for the `updated` eager
            # checkpoint's job.  Interleaved A/B at sf0.1 (3 rounds):
            # eager 8.8 s / lazy 3.4 s for the loop portion, labels
            # identical.
            .localCheckpoint(eager=False)
        )
        # pointer jumping: lbl <- label(lbl).  The neighbor step alone moves
        # a label ONE hop per round (a k-chain needs k rounds); composing
        # with the label table halves the remaining chain depth each round,
        # so convergence is O(log diameter) — the star-contraction idea,
        # expressed as one extra self-join.  `old` rides along so the
        # convergence check needs no third join.
        updated = (
            stepped.alias("s")
            .join(
                stepped.select(F.col("v").alias("lbl"), F.col("lbl").alias("lbl2")).alias("j"),
                "lbl",
                "left",
            )
            .select(
                F.col("s.v").alias("v"),
                F.least(F.col("lbl"), F.coalesce(F.col("lbl2"), F.col("lbl"))).alias("lbl"),
                (
                    F.least(F.col("lbl"), F.coalesce(F.col("lbl2"), F.col("lbl"))) < F.col("old")
                ).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = updated.filter(F.col("_chg")).count()
        labels = updated.select("v", "lbl")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds — "
            "raise max_iter (pointer jumping needs ~log2(diameter) rounds)"
        )
    return labels.select(F.col("v").alias(id_col), F.col("lbl").alias("cluster_id"))


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = 20,
    length_bucket: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    length_col: str = "n_chars",
) -> DataFrame:
    """Near-duplicate pairs by bounded Levenshtein distance.

    Levenshtein is O(len^2) per pair, so the candidate set must be
    sub-quadratic before any distance is computed.  Blocking: equi-join on
    (lang, floor(length / length_bucket)) — same-language, similar-length
    documents only.  Two cheap pre-filters run before the quadratic kernel:
    id ordering (each unordered pair once) and |len(a) - len(b)| <= max_dist
    (a length gap is a Levenshtein lower bound).  The distance itself is
    the built-in JVM expression — no Python in the loop.

    Scale notes: block sizes are bounded by the (lang x length-bucket)
    granularity, the shuffle key; a pathological single-length corpus shows
    up as block skew, handled the same way as blocked_pairs (salt the block
    key) — see tests/test_skew.py.  Documents a boundary apart can land in
    adjacent buckets and be missed; callers wanting guaranteed recall at
    distance d should bucket by floor(len / b) with b > d and probe the
    neighbor bucket (doubles candidates; not the default).
    """
    d = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.col(lang_col).alias("lg"),
        F.floor(F.col(length_col) / length_bucket).cast("int").alias("lb"),
        F.length(text_col).alias("ln"),
    )
    from log_vector_spark.catalog import spread

    # The block join broadcasts the (tiny) right side, so the banded DP
    # kernel executes in the LEFT side's scan stage — one task on a
    # single-file input (measured 9.0 s serial exec at sf0.1, cpu/wall
    # ~1.0 on 32 cores).  Spreading the left side by id parallelizes the
    # kernel across every core; at scale the guard makes it a no-op
    # (guide §2.5: compute-heavy, byte-light skew AQE cannot split).
    a, b = spread(d, "id").alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lg") == F.col("b.lg"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(F.abs(F.col("a.ln") - F.col("b.ln")) <= max_dist)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            # banded DP: with a threshold the kernel fills a (2d+1)-wide
            # diagonal band, O(d*len) per pair instead of O(len^2) — at
            # sf0.1 (175k candidate pairs of ~300-char docs) this is the
            # difference between ~2G and ~16G DP cells.  Returns -1 when
            # the distance exceeds the threshold.
            F.levenshtein(F.col("a.t"), F.col("b.t"), max_dist).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def edit_distance_pairs_banded(
    docs: DataFrame,
    max_dist: int = 20,
    min_common: int = 5,
    df_cap: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by bounded Levenshtein with CONTENT-derived candidates.

    `edit_distance_pairs` blocks on (lang, length-bucket) — fixed
    cardinality, so blocks densify quadratically as the corpus grows
    (measured: 175k candidates at sf0.1 for 25 true pairs).  Here the
    candidate set derives from the content itself: pairs sharing at least
    `min_common` RARE shingles (document frequency <= `df_cap`).  Join
    fan-out is bounded by df_cap^2 per shingle and the total candidate
    volume by df_cap x |postings| — linear in the corpus with a constant
    the cap controls.  Measured on this corpus: cap 64 and cap 16 verify
    the IDENTICAL pair set at sf0.01 AND sf0.1 (dup-shared shingles have
    tiny df by nature) while cap 16 is up to 16x cheaper in the join;
    cap 8 starts losing pairs (256 -> 178 at sf0.1).  Docs
    within edit distance d of ~L chars share all but O(d) shingles, so the
    recall floor is generous; shingles above the df cap are skipped the way
    search engines skip stopwords — hot shingles generate quadratic join
    fan-out but carry no pair information.  Candidate count tracks the TRUE
    near-dup rate (25 candidates -> 25 pairs at sf0.01), not the corpus
    density, and every stage is an equi-join or aggregate.  Verification is
    the threshold-banded JVM levenshtein, O(d*len) per pair.
    """
    from log_vector_spark.catalog import spread

    # shingle derivation (tokens -> md5 grams -> explode) is scan-stage
    # work: spread it over the cores when the scan is single-split
    # (no-op at scale — see catalog.spread)
    w = spread(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")), "id"
    )
    # words materialized as a real column BEFORE shingling: an expression
    # argument re-evaluates inside the transform lambda per gram — the
    # quadratic re-split of BASELINE.md round-1 lesson 2 (measured here:
    # 8.7 s -> 0.6 s for the derivation stage at sf0.1)
    words = w.select("id", tokens(F.col("t")).alias("words"))
    sh = words.select(
        "id",
        F.explode(
            F.array_distinct(shingles_from_words(F.col("words"), shingle_n))
        ).alias("shingle"),
    )
    # rare feeds BOTH sides of the candidate self-join (and derives from an
    # explode + HOF subtree + a df aggregate) — materialize it once instead
    # of recomputing the whole derivation per join side
    rare = (
        sh.join(
            sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= df_cap),
            "shingle",
        )
        .select("id", "shingle")
        .localCheckpoint(eager=False)
    )
    cand = (
        rare.select(F.col("shingle"), F.col("id").alias("id_a"))
        .join(rare.select(F.col("shingle"), F.col("id").alias("id_b")), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    ta = w.select(F.col("id").alias("id_a"), F.col("t").alias("t_a"))
    tb = w.select(F.col("id").alias("id_b"), F.col("t").alias("t_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.length("t_a") - F.length("t_b")) <= max_dist)
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("t_a"), F.col("t_b"), max_dist).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


# --- hyperplane-LSH banded semantic dedup (r4) ------------------------------

LSH_BANDS = 3
LSH_MAX_BITS = 16  # per band; 3 bands x 16 bits = 48 planes max


def lsh_band_bits(n: int) -> int:
    """Adaptive per-band signature width: floor(log2(n/8)) clamped to
    [6, 16].  Bucket count 2^bits grows LINEARLY with the corpus, so the
    expected band-bucket occupancy stays ~8 and within-bucket pair volume
    stays ~8N per band at any scale — the property fixed-width bands (and
    fixed-cardinality label blocks) lack.  The price is recall at loose
    thresholds: per-band collision probability is p_bit^bits with
    p_bit = 1 - theta/pi, so banding is the right blocker at TIGHT
    thresholds (cosine >= ~0.9, p_bit >= ~0.86) where real semantic dedup
    operates, while IVF-list blocking (embedding_near_dup_ivf_survivors)
    remains the complete-within-probe-radius choice for loose thresholds.
    """
    import math

    return max(6, min(LSH_MAX_BITS, int(math.floor(math.log2(max(n, 16) / 8.0)))))


def hyperplane_signature(vec_col, n_planes: int):
    """48-bit (max) random-hyperplane signature as ONE bigint column: bit i
    = sign(dot(vec, plane_i)), planes = the deterministic fixed_query_vector
    family (seeds 100+i, shared with the knn_lsh suite).

    Constructed as ONE parsed SQL string, not a Column-object tree: the 48
    dot-product folds x 64-literal planes cost thousands of py4j round
    trips when composed with `F.when`/`literal_vector` — measured 10-25 s
    of query BUILD time per call at sf0.1 (optimization guide §4: shrink
    the Python<->JVM boundary; the boundary includes plan construction).
    The parsed tree is the IDENTICAL expression — zip_with/aggregate fold
    per plane with the per-element CAST to DOUBLE, the same exact-decimal
    plane literals, the same CASE bit packing, integer adds left-to-right
    — so results are bit-equal to the old form (verified against the
    unchanged DuckDB oracles).  `vec_col` is the column NAME (or any SQL
    expression string yielding the vector).
    """
    from log_vector_spark.functions.vector import fixed_query_vector

    if not isinstance(vec_col, str):
        raise TypeError("hyperplane_signature takes the vector column NAME")
    # ADVICE r11: a plain identifier is backtick-quoted so column names that
    # need quoting (spaces, dots, hyphens) keep working as they did via
    # F.col; anything else must already be a valid SQL expression string.
    if vec_col.isidentifier():
        vec_col = f"`{vec_col}`"
    terms = ["CAST(0 AS BIGINT)"]
    for i in range(n_planes):
        plane = fixed_query_vector(dim=64, seed=100 + i)
        arr = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in plane) + ")"
        dot = (
            f"aggregate(zip_with({vec_col}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(
            f"(CASE WHEN {dot} >= 0 THEN CAST({2**i} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr(" + ".join(terms))


def embedding_near_dup_lsh_survivors(
    vectors: DataFrame,
    threshold: float = 0.5,
    bands: int = LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup with hyperplane-LSH BAND blocking — the linear-decade
    100 TB path for tight thresholds.

    Pipeline: 48 hyperplane sign bits per vector (one linear scan) ->
    per-band bucket key = a `lsh_band_bits(N)`-bit slice of the signature
    -> within-bucket candidate pairs (bucket occupancy ~8 regardless of N,
    so candidates ~8N per band) -> exact cosine verify >= threshold ->
    anti-join keeps survivors.  Candidate volume is corpus-LINEAR by
    construction, unlike IVF-list blocking (~N^1.5, measured 4.3x/decade)
    or label blocking (quadratic, 5.8x/decade) — banding is what MinHash
    already does for text dedup (dedup.minhash_band_pairs), applied to the
    embedding space.

    Recall contract: probabilistic, p ~ 1-(1-p_bit^bits)^bands with
    p_bit = 1 - theta/pi; near-1 for near-identical vectors (the dedup
    case), intentionally low for weakly-similar ones.  The oracle replays
    the identical construction, so engine parity is exact even when the
    bands miss a weak pair.
    """
    verified = lsh_band_verified_pairs(vectors, threshold, bands, id_col, vec_col)
    dup_ids = verified.select(F.col("id_b").alias(id_col)).distinct()
    return vectors.join(dup_ids, id_col, "left_anti").select(id_col)


def lsh_band_verified_pairs(
    vectors: DataFrame,
    threshold: float,
    bands: int = LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, score) for every band-colliding pair with exact cosine
    >= threshold — the shared candidate core of the LSH-banded dedup and
    similarity-join forms.  Corpus-linear candidate volume by the adaptive
    band-width rule (lsh_band_bits); one distinct on scored id pairs
    collapses multi-band collisions (scores are functional on the pair, so
    no array-valued shuffle key exists in the plan)."""
    from log_vector_spark.functions.vector import dot_product, l2_normalize

    from log_vector_spark.catalog import cached_count

    n = cached_count(vectors)
    bits = lsh_band_bits(n)
    mask = (1 << bits) - 1
    from log_vector_spark.catalog import spread

    # normalize ONCE per vector (blocked_pairs discipline) so each candidate
    # verify is a single dot fold.  spread: the 48-fold signature scan runs
    # inside the (single-split locally) scan stage and is materialized
    # eagerly by the checkpoint below — parallelize it across the session's
    # cores; no-op at production split counts (catalog.spread).
    sig = spread(vectors, id_col).select(
        F.col(id_col),
        l2_normalize(F.col(vec_col)).alias("_unit"),
        hyperplane_signature(vec_col, bands * LSH_MAX_BITS).alias("sig"),
    )
    banded = (
        sig.select(
            id_col,
            "_unit",
            F.explode(F.array(*[F.lit(b) for b in range(bands)])).alias("band"),
            F.col("sig"),
        )
        .select(
            id_col,
            "_unit",
            "band",
            F.expr(f"shiftrightunsigned(sig, band * {LSH_MAX_BITS}) & {mask}").alias("key"),
        )
        # both sides of the self-join read this frame: checkpoint so the
        # 48-dot signature scan runs ONCE, not per side (measured 5.5 -> 4.8s
        # steady-state, 9.5 -> 5.0s first run at sf0.1 — the dedup_clusters
        # exchange-reuse idiom)
        .localCheckpoint(eager=True)
    )
    a = banded.select("band", "key", F.col(id_col).alias("id_a"), F.col("_unit").alias("ua"))
    b = banded.select("band", "key", F.col(id_col).alias("id_b"), F.col("_unit").alias("ub"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(dot_product(F.col("ua"), F.col("ub")), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
        .distinct()
    )
