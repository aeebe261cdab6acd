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
* Generated classes are cached for the whole session (``CODEGEN_CACHE_ENTRIES``),
  so a repeated plan compiles once, not once per run.

A small write path is bound by its number of Spark jobs (each costs about
0.05-0.1 s of driver overhead locally), not by its data, so the writers
follow three rules:

(a) A relation the driver already holds (a k-row centroid table, a
    manifest row) is an Arrow local relation, built by
    ``spark.createDataFrame`` from a ``pyarrow.Table``: it plans as
    ``LocalTableScan`` and runs no job when read.  A Python list literal
    plans as ``Scan ExistingRDD`` and runs a Python-RDD job on every action.
(b) Every read of an artifact the engine wrote itself declares its schema:
    schema inference is one job per read, and with a declared schema a
    directory that holds no data file reads as empty instead of failing.
(c) Each intermediate is computed once, and counters come from metadata
    the engine already keeps (a sizes table, the rows the driver holds) or
    from an ``observe`` on a write, not from a separate count job.

Writers take their counters from the write itself (``DataFrame.observe``
with a ``pyspark.sql.Observation``), not from a second scan of the input or
of the written output.  An ``observe`` must sit ABOVE any
``localCheckpoint`` in the plan it counts: the checkpointed node runs in its
own jobs, outside the action that completes the Observation, so an observe
below it never reports.  Under AQE even ``localCheckpoint(eager=False)``
runs every shuffle map stage of its input when it is called; only the
final stage waits for the first action.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import Observation, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Entries of Spark's generated-class cache (default 100).  One `write`
# round of the engine (full and incremental index, training ingest, dedup,
# IVF store lifecycle) uses about 530 distinct generated classes, so at the
# default every warm round compiled them all again: 536 and 538 Janino
# compiles in two warm rounds, against 12 and 0 at this size
# (perfbench/run.py --workload write, seed 7, local[2] on a 4-vCPU box,
# Spark 4.1.2).
CODEGEN_CACHE_ENTRIES = 4096


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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


def observed(obs: Observation, fallback: Callable[[], dict]) -> dict:
    """The metrics an action collected through ``obs``, or ``fallback()``
    when the action's plan lost the observe.

    AQE replaces a query stage that produced no rows with an empty
    relation, and the observes inside that stage go with it; Spark then
    completes the Observation with an empty row.  So ``fallback`` is what
    the metrics read over zero rows when the observe's rows all reach the
    stage output, and a recount when a filter drops rows in between."""
    if obs._jo is not None and obs._jo.getRow().length() == 0:
        return fallback()
    return obs.get
