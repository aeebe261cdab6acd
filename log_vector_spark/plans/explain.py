"""Physical-plan inspection helpers.

"Would this plan survive a 100x scale-up?" is checkable: filters must reach
the parquet scan (PushedFilters), projections must prune (ReadSchema), small
sides must broadcast, top-k must plan TakeOrderedAndProject (per-partition
heaps, O(k) driver transfer) instead of a global sort.  tests/test_plans.py
pins these properties so a regression in plan shape fails CI, not the
100 TB run.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True when `fragment` appears in a PushedFilters list of the scan."""
    plan = plan_string(df)
    return any(
        "PushedFilters" in line and fragment in line for line in plan.splitlines()
    )


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column sets actually read from parquet (one entry per scan)."""
    out = []
    for line in plan_string(df).splitlines():
        if "ReadSchema" in line:
            out.append(line.split("ReadSchema:", 1)[1].strip())
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df) or "BroadcastNestedLoopJoin" in plan_string(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in plan_string(df)


@contextmanager
def no_size_broadcasts(spark):
    """Disable size-based broadcast-join selection for the duration.

    With ``autoBroadcastJoinThreshold = -1`` the planner only produces a
    broadcast join for an explicit ``F.broadcast()`` hint, so a test can
    count BroadcastHashJoin nodes to audit hint hygiene: a hint is only
    allowed on provably-bounded relations (nation/region, 1-row scalars,
    literal lookup tables) — never on anything that scales with the data.
    Build the DataFrame INSIDE the context: planning reads the conf lazily.
    """
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
