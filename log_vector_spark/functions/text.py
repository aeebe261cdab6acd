"""Text kernels as pure Column expressions.

Everything here stays inside Catalyst codegen (split/filter/transform/md5 —
no Python UDFs), so the dedup/text-analytics operators built on top scan
100 TB at parquet-read speed.

Cross-engine discipline: each builder has an exact DuckDB twin used by the
oracle suites (verified primitive-by-primitive: md5 hex, 1-based
element_at/list indexing, instr/strpos, xor/bit_count, binary string
collation all agree).  Spark's ``sequence(1, 0)`` DESCENDS instead of
returning empty — every sequence here is guarded.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_DIGITS = "0123456789abcdef"


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties dropped (array<string>)."""
    return F.filter(F.split(col, " "), lambda x: x != "")


def distinct_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def shingles_from_words(w: Column, n: int = 3) -> Column:
    """Word n-grams from an ALREADY-MATERIALIZED words array column.

    `w` must reference a real column (not an expression like tokens(text)):
    expressions inside transform() lambdas are re-evaluated per element, so
    passing tokens(text) here would re-split the text for every gram —
    quadratic work that showed up as a 25x slowdown in the sf0.1 bench.

    Empty array when the text has < n tokens (guarding Spark's descending
    sequence(1,0) footgun).
    """
    k = F.size(w) - (n - 1)

    def gram(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)])

    return F.when(k >= 1, F.transform(F.sequence(F.lit(1), k), gram)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Convenience wrapper for small inputs; hot paths should materialize
    `tokens(col)` as a column and call shingles_from_words instead."""
    return shingles_from_words(tokens(col), n)


def bag_fingerprint(col: Column) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set.  Collapses documents that shuffle the same vocabulary —
    the cheap first pass of a near-dup pipeline."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("int")


def nibble(hex_char: Column) -> Column:
    """Hex digit -> 0..15 via instr (1-based in both engines)."""
    return F.instr(F.lit(HEX_DIGITS), hex_char) - 1
