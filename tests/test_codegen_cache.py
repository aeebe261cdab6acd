"""Pin: the session keeps generated classes across plans.  A warm round of
the engine runs hundreds of distinct whole-stage plans; with Spark's
default cache of 100 generated classes each round compiled them all again.
Here ~150 distinct small plans (more than that default) run twice, and
the second pass must not compile a single class."""

import pytest
from pyspark.sql import functions as F

N_PLANS = 150


@pytest.mark.spark
def test_second_pass_over_distinct_plans_compiles_nothing(spark):
    from log_vector_spark.session import CODEGEN_CACHE_ENTRIES

    assert CODEGEN_CACHE_ENTRIES > N_PLANS
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def run_all():
        for i in range(N_PLANS):
            # the literals are inlined into the generated code, so each i
            # is a distinct class
            spark.range(0, 4, 1, 1).select(
                (F.col("id") * (i + 1000) + i).alias("x")
            ).collect()

    run_all()
    first = compiles.getCount()
    run_all()
    assert compiles.getCount() == first
