"""SparkSession factory with scale-aware defaults.

Local test posture is ``local[N]`` (single JVM), but every config below is
chosen so the same plans run unchanged on a 1000-executor cluster against
~100 TB:

* AQE on: runtime partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion based on observed sizes.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalescing makes the static number mostly irrelevant.
* Arrow enabled: every pandas_udf boundary (chunker, embedder, decoders) is
  Arrow-batched, never row-at-a-time.
* Session timezone pinned to UTC so timestamps compare bit-for-bit with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "log_vector_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config."""
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: driver is the only JVM; give it the RAM budget
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # testdata parquet uses TIMESTAMP(NANOS); read as long, catalog converts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # whole-stage codegen emits a large class per query stage; the JVM's
        # default 240 MB code cache fills after ~10 queries and the JIT
        # silently disables itself -> 10-70x slowdowns on HOF-heavy plans.
        # Measured on this suite: similarity_join 66s -> 5s with 1 GB cache.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_tempdir(prefix: str) -> str:
    """A fresh temp dir that lives as long as this process: stores whose
    lazy reads a query returns cannot be removed when the query returns,
    so each one is removed at interpreter exit instead."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
