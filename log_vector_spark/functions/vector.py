"""Vector math as pure Column expressions.

The reference's only distance is cosine, fixed at collection creation
(reference index.py:434) and consumed by top-k retrieval (reference
ask.py:200-203).  Spark has no cosine builtin; two implementations live here:

* **HOF fold** (no ``dim``): ``zip_with`` + ``aggregate``, correct for
  ragged/unknown widths.  Spark's higher-order functions are
  CodegenFallback (interpreted, boxed), yet the literal-query scorers
  (``cosine_to_query``: top-k, radius, IVF probes and rescoring stages)
  stay on it: an unrolled sum against a literal query inlines the
  query's values into the generated class, so each new query compiles a
  new class, measured slower per question (see ``cosine_to_query``).
  ``cosine_to_query`` folds the query's norm on the driver and can read
  the row norm from a cached column, leaving one fold per row.
* **unrolled** (``dim`` known): an explicit ``element_at`` sum that stays
  inside whole-stage codegen — ~30x faster than the fold on a 110k-pair
  column-vs-column scoring stage, where no literal changes between runs.
  Its program caller is the PQ subspace distance (``operators/pq.py``);
  ``operators/cluster._assign``, the argmin kernel's executable spec,
  keeps a ``dim`` too.

Both produce BIT-IDENTICAL doubles: the unrolled sum associates left just
like the fold, and ``0.0 + x == x`` exactly in IEEE754, so the oracle
comparison (DuckDB ``list_dot_product``/``list_cosine_similarity`` with
``::DOUBLE[]`` casts) holds for either.

Precision discipline (SURVEY §7.3): all arithmetic is promoted to DOUBLE
before summing so results are bit-identical with the DuckDB oracle's
left-to-right list folds; scores are rounded to 6 dp at the query boundary.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return col.cast("double")


def _unrolled_sum(terms: list[Column]) -> Column:
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _dim_checked(expr: Column, dim: int, *arrays: Column) -> Column:
    """Fail fast when an array is narrower than the unrolled width.

    In a non-ANSI session ``element_at`` past the end returns NULL, so a
    wrong ``dim`` would silently NULL every score; this guard raises in ANY
    session mode.  size() is O(1) on an array column, so the check is free
    next to the O(dim) arithmetic it protects.
    """
    ok = None
    null_any = None
    for arr in arrays:
        cond = F.size(arr) == dim
        ok = cond if ok is None else (ok & cond)
        n = arr.isNull()
        null_any = n if null_any is None else (null_any | n)
    # NULL array -> NULL result (same as the HOF fold), never an error
    return (
        F.when(null_any, F.lit(None).cast("double"))
        .when(ok, expr)
        .otherwise(F.raise_error(F.lit(f"vector width != dim={dim} on unrolled path")))
    )


def dot_product(a: Column, b: Column, dim: int | None = None) -> Column:
    """sum_i a[i]*b[i] in double precision, left-associated.

    With ``dim`` the sum is unrolled into a codegen'd expression; a size
    guard raises on any row whose array width differs from ``dim`` (in both
    ANSI and non-ANSI sessions).  Without it the HOF fold handles any width
    interpretively.
    """
    if dim:
        return _dim_checked(
            _unrolled_sum(
                [
                    _as_double(F.element_at(a, i + 1)) * _as_double(F.element_at(b, i + 1))
                    for i in range(dim)
                ]
            ),
            dim,
            a,
            b,
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _as_double(x) * _as_double(y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def squared_l2(a: Column, b: Column, dim: int | None = None) -> Column:
    """sum_i (a[i]-b[i])^2, accumulated in double — the k-means / PQ-encode
    distance kernel.

    Bit-compat contract with the HOF fold (which the DuckDB oracles
    replay): each TERM is computed in the INPUT element type — for float32
    arrays the zip_with lambda produces float32 squares — and only the
    ACCUMULATION promotes to double (acc + v).  The unrolled path
    therefore leaves the per-term arithmetic uncast and casts the finished
    term to double before the left-associated sum: identical IEEE
    operation sequence, so both paths produce the same doubles for float
    AND double inputs.  (Pre-casting the operands would silently change
    float-input results at the ulp level and break oracle hashes.)

    WIDTH CAVEAT (measured): unlike dot_product, each unrolled term here
    duplicates its subtraction subtree (d*d with no let-binding in the
    Column algebra), so the expression is ~2.5x the dot tree.  At the PQ
    subspace width (8) this wins ~20%% over the fold; at 64 the generated
    method overflows whole-stage codegen limits and the interpreted
    fallback runs 3x SLOWER than the fold (kmeans assignment measured
    1.3 -> 3.8 s at sf0.1).  Pass dim only for narrow subvectors; leave
    full-width k-means distances on the fold.
    """
    if dim:
        def term(i: int) -> Column:
            d = F.element_at(a, i + 1) - F.element_at(b, i + 1)
            return (d * d).cast("double")

        return _dim_checked(_unrolled_sum([term(i) for i in range(dim)]), dim, a, b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_distance(a: Column, b: Column, dim: int | None = None) -> Column:
    """Euclidean distance (left-to-right accumulation, matching DuckDB's
    list_distance order — see squared_l2 for the float/double contract)."""
    return F.sqrt(squared_l2(a, b, dim))


def l2_norm(a: Column, dim: int | None = None) -> Column:
    if dim:
        return F.sqrt(
            _dim_checked(
                _unrolled_sum(
                    [
                        _as_double(F.element_at(a, i + 1)) * _as_double(F.element_at(a, i + 1))
                        for i in range(dim)
                    ]
                ),
                dim,
                a,
            )
        )
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: _as_double(x) * _as_double(x)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(a: Column, dim: int | None = None) -> Column:
    """Unit-length copy of the vector (array<double>).

    Pre-normalizing at write time turns cosine into a plain dot product
    (SURVEY §4.3.1) — cheaper per comparison and numerically friendlier.
    Zero vectors (the reference's error sentinel, index.py:138) normalize to
    zero vectors rather than NaN: try_divide yields NULL on /0 and the
    coalesce restores 0.0 per element — same values as the old
    when(norm==0) form for non-NULL inputs.  A NULL array normalizes to
    NULL on both paths (the HOF zip_with propagates it; the unrolled path
    guards explicitly); a NULL *element* becomes 0.0 — the write path never
    produces one, so no per-element isNull pass is spent on it.

    With ``dim``, the output array is built from unrolled element
    expressions; the repeated norm subtree is shared by codegen's
    subexpression elimination.  The HOF form materializes the norm via a
    zip against a single-element wrapper so the O(dim) fold runs ONCE per
    row, not once per element (lambda-captured outer expressions re-evaluate
    per element — the round-1 lesson in BASELINE.md).
    """
    norm = l2_norm(a, dim)
    if dim:
        return F.when(
            a.isNull(), F.lit(None).cast("array<double>")
        ).otherwise(
            F.array(
                *[
                    F.coalesce(F.try_divide(_as_double(F.element_at(a, i + 1)), norm), F.lit(0.0))
                    for i in range(dim)
                ]
            )
        )
    # bind norm once: transform over the original array with the norm smuggled
    # in via a 2-field struct argument is not expressible; instead evaluate
    # the fold once per row by nesting: transform(a, x -> coalesce(try_divide(x, norm), 0))
    # would re-fold per element, so divide inside a zip_with against a
    # norm-filled array built once.
    norm_arr = F.array_repeat(norm, F.size(a))
    return F.zip_with(
        a, norm_arr, lambda x, n: F.coalesce(F.try_divide(_as_double(x), n), F.lit(0.0))
    )


def cosine_similarity(a: Column, b: Column, dim: int | None = None) -> Column:
    """cosine(a, b) in double precision; 0.0 when either norm is 0.

    try_divide + coalesce instead of when(denom==0): the when form evaluates
    the two norm folds twice (condition + divisor — Catalyst does not CSE
    across CASE branches in interpreted HOF mode), doubling the dominant
    cost of every scoring stage.  try_divide(x, 0) IS NULL, so for non-NULL
    inputs the value is identical: zero denominator (only possible when a
    zero vector makes the numerator 0 too) -> 0.0, else dot/denom.

    NULL handling: a NULL *array* on either side yields NULL (guarded before
    the coalesce — without the guard the coalesce would silently score it
    0.0).  A NULL *element* inside an array still folds to 0.0; the write
    path never produces one (the error sentinel is an all-zero vector, per
    the reference index.py:138) so per-element isNull scans are not worth
    their interpreted-HOF cost on every scoring pair.
    """
    denom = l2_norm(a, dim) * l2_norm(b, dim)
    sim = F.coalesce(F.try_divide(dot_product(a, b, dim), denom), F.lit(0.0))
    return F.when(a.isNull() | b.isNull(), F.lit(None).cast("double")).otherwise(sim)


def literal_vector(values: Sequence[float]) -> Column:
    """A literal array<double> column (e.g. a broadcastable query vector)."""
    return F.array(*[F.lit(float(v)) for v in values])


def cosine_to_query(
    vec: Column, query_vec: Sequence[float], vec_norm: Column | None = None
) -> Column:
    """``cosine_similarity(vec, literal_vector(query_vec))``, bit for bit,
    with one per-row fold instead of three.

    The query's norm is a constant, but Catalyst does not constant-fold a
    lambda HOF over a literal array, so the generic form re-folds it on
    every row.  Here it is folded once on the driver with the fold's own
    IEEE operation sequence (acc = 0.0, acc + x*x left to right in
    float64, then sqrt): Python floats and JVM doubles are both binary64
    and both square roots are correctly rounded, so it is the same double,
    NaN and overflow to inf included.  ``vec_norm`` is the row's
    ``l2_norm(vec)`` when the caller already has it (e.g. the session
    cache of ``sources.store.CachedChunks``), leaving the dot product as
    the only per-row fold; otherwise the row norm is folded here too.

    The dot stays a HOF fold: unrolling it against a literal query inlines
    the query's values into the generated class, so every new query
    compiles a new class — measured slower per question (0.59-0.76 s
    against 0.31-0.41 s, 30k-chunk store, local[2] on a 4-vCPU box) than
    the interpreted fold.
    """
    q = [float(v) for v in query_vec]
    sq = 0.0
    for x in q:
        sq += x * x
    norm = l2_norm(vec) if vec_norm is None else vec_norm
    sim = F.coalesce(
        F.try_divide(dot_product(vec, literal_vector(q)), norm * F.lit(math.sqrt(sq))),
        F.lit(0.0),
    )
    return F.when(vec.isNull(), F.lit(None).cast("double")).otherwise(sim)


# --- deterministic fixtures shared with the DuckDB oracle -------------------
#
# The oracle comparison needs the *same* query vector on both sides.  We
# generate it with a plain integer LCG (no RNG library, no float parsing
# ambiguity): every value is a small exact decimal, so the literal text
# interpolated into the oracle SQL parses to the identical double.


def fixed_query_vector(dim: int = 64, seed: int = 7) -> list[float]:
    """Deterministic pseudo-random vector with exactly-representable values."""
    state = seed
    out = []
    for _ in range(dim):
        state = (state * 1103515245 + 12345) % (2**31)
        # keep 6 decimal digits -> exact decimal literal in both engines
        out.append(round((state / (2**31)) - 0.5, 6))
    return out


def vector_sql_literal(values: Sequence[float]) -> str:
    """DuckDB list literal with the same exact decimals."""
    return "[" + ", ".join(f"{v!r}" for v in values) + "]"
