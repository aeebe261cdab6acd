"""Table catalog over the driver-generated parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``.

At 100 TB these would be partitioned/bucketed managed tables; here the same
accessor returns a lazy DataFrame per table so every operator composes on a
declarative scan (column pruning + predicate pushdown reach the parquet
reader for free).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Testdata parquet may store TIMESTAMP(NANOS) (as it did in round 1), which
# Spark's vectorized reader rejects; with spark.sql.legacy.parquet.nanosAsLong
# these columns arrive as BIGINT nanos and are converted here.  Integer `div`
# (not `/`): nano values exceed 2^53, double math would corrupt them.  Micros
# truncation matches DuckDB's own nanos->micros read behavior.  When the file
# already stores micros the column arrives as a plain timestamp and the
# conversion is skipped.
TIMESTAMP_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _ensure_read_confs(spark: SparkSession) -> None:
    """Make any caller-built session able to read the testdata.

    The engine must not depend on how the SparkSession was constructed (the
    correctness driver builds a vanilla one).  Both confs are runtime SQL
    confs consulted at parquet schema conversion / timestamp collection time:

    * nanosAsLong: a TIMESTAMP(NANOS) column otherwise kills the scan with
      PARQUET_TYPE_ILLEGAL before any query logic runs.
    * UTC session timezone: timestamps must collect as the same wall-clock
      the UTC-naive DuckDB oracle reports, regardless of host timezone.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # noqa: BLE001 - locked-down session: fall through, the
        pass  # read may still work (micros file, UTC host) or hit the retry


def _arrow_fallback(spark: SparkSession, path: str) -> DataFrame:
    """Last-resort read path: pyarrow decodes the file and nanos columns are
    cast to micros before handing Spark the batches.  Driver-memory bound —
    only reached when the session rejects both the native scan and the
    legacy-conf retry, which never happens on a stock Spark 3.4+/4.x.

    The cast uses ``safe=False``: a safe cast raises ArrowInvalid on any
    value with non-zero sub-microsecond nanos — exactly the data this
    fallback exists to read — while the unsafe cast truncates toward zero,
    matching DuckDB's own nanos->micros read behavior and the `div 1000`
    conversion in :func:`table`.  Timezone metadata is preserved."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    fields = []
    for field in tbl.schema:
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            field = field.with_type(pa.timestamp("us", tz=field.type.tz))
        fields.append(field)
    casted = tbl.cast(pa.schema(fields), safe=False)
    return spark.createDataFrame(casted.to_pandas())


def table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Lazy scan of one table; keep selects/filters on top so Catalyst can
    push them into the parquet reader."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    _ensure_read_confs(spark)
    try:
        df = spark.read.parquet(path)
    except Exception as e:  # noqa: BLE001
        if "PARQUET_TYPE_ILLEGAL" not in str(e):
            raise
        df = _arrow_fallback(spark, path)
    for c in TIMESTAMP_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, name, sf_dir).createOrReplaceTempView(name)


# -- cached corpus-size statistic (VERDICT r4 item 7) ----------------------
#
# The adaptive sizing rules (sqrt_stride centroid count, LSH band width,
# PQ codebook stride) need N at plan-build time.  At 100 TB that number is
# table METADATA — catalog statistics / parquet footer row counts — not a
# job.  Locally the first lookup per distinct plan runs one count job and
# every later plan reuses it, so repeated index builds over the same input
# stop paying an extra scan per query.

def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive derivation parallelism (optimization guide §2.5/§6).

    Heavy per-row kernels (HOF chains, hash/winnow derivations, Arrow/pandas
    stages, banded levenshtein under a broadcast join) execute in the stage
    of the upstream SCAN, so their parallelism is the scan's SPLIT count —
    and a single small parquet file (this testdata: one file, one row group
    per table) yields exactly ONE task no matter how many cores the session
    has.  `spark.sql.files.minPartitionNum` cannot help: splits cannot cross
    a row-group boundary, so an unsplittable file pins the whole kernel to
    one core.

    This helper inserts ONE deterministic hash repartition (tiny: the rows
    repartitioned are base rows, not derived/exploded ones) in front of such
    a kernel — but only when the plan's input-file count is below the
    session's core count.  At 100 TB every table arrives in thousands of
    splits, the guard is false, and no exchange is ever added — the cluster
    plan is unchanged.  Results are partition-invariant by the engine's own
    certified-hash contract, so this never changes what a query computes.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if cores <= 1:
        return df
    # ADVICE r11: memoize the input-file count per semantic plan (the
    # cached_count idiom) so iterative callers don't pay plan analysis +
    # file listing per invocation, and narrow the except so genuine
    # analysis errors aren't masked as a silent no-op.  Safe because every
    # spread() call site feeds an immutable input (the testdata scans /
    # frames derived from them), never a growing store read-back.
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    try:
        key = df._jdf.semanticHash()
        n_files = _SPREAD_FILES_CACHE.get(key)
        if n_files is None:
            n_files = len(df.inputFiles())
            _SPREAD_FILES_CACHE[key] = n_files
    except (PySparkException, Py4JJavaError, AttributeError):
        return df  # non-file-backed / non-JVM frames: nothing to spread
    if n_files == 0 or n_files >= cores:
        return df
    if key_cols:
        return df.repartition(cores, *[F.col(c) for c in key_cols])
    return df.repartition(cores)


_SPREAD_FILES_CACHE: dict[int, int] = {}

_COUNT_CACHE: dict[tuple, int] = {}


def cached_count(df: DataFrame) -> int:
    """Row count of `df`, memoized on (semantic plan hash, input files).

    ``semanticHash`` distinguishes filtered/projected variants of the same
    scan (file lists alone would alias them); the input-file list guards
    the rare cross-plan hash collision and ties the entry to the concrete
    data.  Frames with no stable identity (empty file list AND a failed
    hash) fall back to an uncached count.
    """
    try:
        key = (df._jdf.semanticHash(), tuple(sorted(df.inputFiles())))
    except Exception:  # noqa: BLE001 - e.g. non-JVM-backed test doubles
        return df.count()
    hit = _COUNT_CACHE.get(key)
    if hit is not None:
        return hit
    n = df.count()
    _COUNT_CACHE[key] = n
    return n
