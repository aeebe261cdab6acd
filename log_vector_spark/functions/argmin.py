"""Map-side Arrow argmin kernels for the assignment-shaped operators.

The nearest-centroid assignment (k-means Lloyd rounds, IVF coarse
quantization, silhouette scoring) was built as
``crossJoin(broadcast(centroids))`` + a per-pair distance fold +
``groupBy(min(struct(...)))``.  That shape is correct and shuffle-light
(one row per vector crosses the exchange), but it pays two costs the
optimization guide calls out:

* **§4 (the Python/JVM boundary includes expression interpretation):**
  Spark's higher-order functions (``zip_with`` + ``aggregate``) are
  CodegenFallback — every distance term is an interpreted, boxed lambda
  application.  At k centroids x dim terms per row the assignment stage
  burns ~100 ns per element-op; the same arithmetic in NumPy over Arrow
  batches is a vectorized C loop (guide §4.2: hand whole batches to
  native code).
* **§2.4 (remove shuffles outright):** the argmin itself is a pure
  per-row reduction — no information crosses rows — yet the groupBy form
  pays a hash-aggregate exchange for it.  A map-side kernel computes the
  argmin directly and emits ONE row per vector with NO Exchange at all.

Each kernel receives the centroid table as a **collected literal** (k
rows — the same relation the old plan broadcast; collecting it is the
same driver-side materialization a BroadcastExchange performs) and the
vector side as Arrow record batches, and reproduces the old plan's
arithmetic **bit-exactly**:

* the distance fold's IEEE operation sequence is replayed per element
  (left fold, one sub/mul/add per dim, float64 — the inputs on every
  call path are already cast to double before the fold);
* ``round(x, 6)`` replays Spark's exact semantics: the double's
  SHORTEST-DECIMAL representation (java ``BigDecimal.valueOf`` ==
  ``Double.toString`` == Python ``repr``) rounded HALF_UP (away from
  zero), NaN/Inf passed through, the sign of zero dropped.  A vectorized
  fast path handles everything except values whose scaled magnitude sits
  within a generous guard band of a rounding boundary; those few are
  redone exactly via ``Decimal`` (see ``_round6``);
* ties break exactly like ``min(struct(d, cid))`` / ``min(struct(-score,
  list_id))``: centroids are pre-sorted ascending so NumPy's first-hit
  argmin/argmax lands on the lowest id, and rounding normalizes ``-0.0``
  to ``+0.0`` the way BigDecimal does, so negated-score ties cannot
  split on the sign of zero.

Scale posture: the kernel is embarrassingly parallel (parallelism = scan
splits; at 100 TB that is thousands of tasks) and tiles the per-batch
(rows x centroids) temp to ``_TILE_ELEMS`` so a production-sized centroid
table (k ~ 4*sqrt(N)) never materializes a giant matrix.  The centroid
collect is k x dim doubles — the identical payload the old plan shipped
as a broadcast relation.

Preconditions (asserted): no NULL vectors (the write paths never produce
one — the error sentinel is an all-zero vector), no NaN distances (NaN
ordering differs between NumPy argmin and Spark's min; finite inputs
cannot produce NaN here).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_EXP6 = Decimal("1e-6")
# java BigDecimal is arbitrary-precision; python's default 28-digit context
# raises InvalidOperation quantizing magnitudes >~1e22 to 6 dp
_CTX = Context(prec=340)
# cap on the rows x centroids float64 temp (32 MB) — batches tile over rows
_TILE_ELEMS = 4_000_000


def _round6(x: np.ndarray) -> np.ndarray:
    """Bit-exact replica of Spark's ``round(double_col, 6)``.

    Spark (RoundBase, DoubleType): NaN/Inf pass through, else
    ``BigDecimal.valueOf(x).setScale(6, HALF_UP).toDouble`` — i.e. the
    shortest-decimal repr of x, rounded half-away-from-zero at 6 dp,
    re-converted (correctly rounded) to double; BigDecimal cannot carry a
    negative zero, so ``-0.0``-ish results come back ``+0.0``.  Verified
    against a live Spark session over adversarial boundary values
    (tests/test_argmin_kernel.py pins it).

    Fast path: floor/ceil of x*1e6 +/- 0.5 (away-from-zero halves) —
    float error can only disagree with the decimal semantics when the
    scaled value lands within a few ulp of a rounding boundary, so any
    element inside a generous guard band (1e-12 relative + 1e-9 absolute
    vs actual error ~1e-16 relative), too large for +0.5 to act, or
    non-finite is redone exactly through Decimal(repr(x)).
    """
    with np.errstate(over="ignore"):
        y = x * 1e6  # may overflow to inf near DBL_MAX; caught by the guard
    half = np.where(np.signbit(x), -0.5, 0.5)
    z = y + half
    with np.errstate(invalid="ignore"):
        out = np.where(np.signbit(x), np.ceil(z), np.floor(z)) / 1e6
        risky = np.abs(z - np.rint(z)) <= (np.abs(y) * 1e-12 + 1e-9)
    risky |= np.abs(y) >= 2.0**51
    risky |= ~np.isfinite(x)
    if risky.any():
        xf, of = x.ravel(), out.ravel()
        for i in np.nonzero(risky.ravel())[0]:
            v = float(xf[i])
            if v != v or v == float("inf") or v == float("-inf"):
                of[i] = v
            else:
                of[i] = float(
                    Decimal(repr(v)).quantize(_EXP6, ROUND_HALF_UP, context=_CTX)
                )
    # BigDecimal drops the sign of zero; +0.0 fixes -0.0 and nothing else
    return out + 0.0


def _mat(col) -> np.ndarray:
    """Fixed-width list Arrow column -> (n, width) ndarray (no copies of
    the value buffer beyond what flatten needs; raises on NULL rows)."""
    if col.null_count:
        raise ValueError("argmin kernel: NULL vector in assignment input")
    vals = col.flatten().to_numpy(zero_copy_only=False)
    n = len(col)
    if n == 0:
        return vals.reshape(0, vals.shape[0] if vals.shape[0] else 0)
    if len(vals) % n:
        raise ValueError("argmin kernel: ragged vector widths")
    return vals.reshape(n, len(vals) // n)


def _fold_sqnorm(C: np.ndarray) -> np.ndarray:
    """l2_norm's fold per row: acc + x*x left to right, float64."""
    s = np.zeros(len(C))
    for i in range(C.shape[1]):
        ci = C[:, i]
        s += ci * ci
    return s


def _l2_rounded(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """round6(sqrt(fold (x_i-c_i)^2)) — the squared_l2 HOF fold's exact
    float64 IEEE sequence per (row, centroid) pair."""
    acc = np.zeros((len(X), len(C)))
    for i in range(X.shape[1]):
        d = X[:, i, None] - C[None, :, i]
        d *= d
        acc += d
    with np.errstate(invalid="ignore"):
        return _round6(np.sqrt(acc))


def _cos_rounded(Xd: np.ndarray, C: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """round6(coalesce(try_divide(dot(x,c), norm(x)*norm(c)), 0.0)) with
    the ivf_assign expression's exact op order (norms are per-side folds
    computed once, denominator = vec_norm * cent_norm)."""
    n = len(Xd)
    num = np.zeros((n, len(C)))
    sx = np.zeros(n)
    for i in range(Xd.shape[1]):
        xi = Xd[:, i]
        sx += xi * xi
        num += xi[:, None] * C[None, :, i]
    den = np.sqrt(sx)[:, None] * cn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where(den == 0.0, 0.0, num / den)
    return _round6(s)


def _check_no_nan(scores: np.ndarray) -> None:
    if np.isnan(scores).any():
        raise ValueError(
            "argmin kernel: NaN distance/score — NumPy argmin and Spark's "
            "struct-min order NaN differently; finite vectors cannot reach "
            "this"
        )


def _pa_type(dt: T.DataType):
    import pyarrow as pa

    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    raise TypeError(f"argmin kernel: unsupported centroid id type {dt}")


def centroid_frame(
    spark,
    cids,
    C,
    cid_type: T.DataType,
    elem_type: T.DataType = T.DoubleType(),
    names: tuple[str, str] = ("list_id", "centroid"),
) -> DataFrame:
    """A k-row centroid table the driver already holds, as an Arrow local
    relation: it plans as ``LocalTableScan``, so reading it runs no job (a
    list literal plans as ``Scan ExistingRDD`` and runs a Python-RDD job on
    every action).  ``cid_type`` is kept; with ``elem_type`` FloatType each
    double is rounded to float32, exactly what ``cast("float")`` gives.  A
    NULL centroid stays NULL."""
    import pyarrow as pa

    np_elem, pa_elem = (
        (np.float32, pa.float32()) if isinstance(elem_type, T.FloatType) else (np.float64, pa.float64())
    )
    cid_col, vec_col = names
    table = pa.table(
        [
            pa.array([int(c) for c in cids], _pa_type(cid_type)),
            pa.array(
                [None if e is None else np.asarray(e, np_elem) for e in C], pa.list_(pa_elem)
            ),
        ],
        schema=pa.schema(
            [pa.field(cid_col, _pa_type(cid_type), nullable=False), pa.field(vec_col, pa.list_(pa_elem))]
        ),
    )
    return spark.createDataFrame(table)


def assign_l2_arrow(
    v: DataFrame,
    cid_vals,
    C: np.ndarray,
    id_col: str,
    cid_type: T.DataType,
) -> DataFrame:
    """Map-side replacement for cluster._assign's crossJoin + fold +
    struct-min plan: (id, e) -> (id, e, cid, d) with d = rounded 6dp L2 to
    the nearest of the literal centroids ``C`` (ties to lowest cid).

    ``C`` rows are re-sorted by cid ascending here so first-hit argmin ==
    the struct-min tie rule.
    """
    cids = np.asarray(cid_vals, dtype=np.int64)
    C = np.asarray(C, dtype=np.float64)
    order = np.argsort(cids, kind="stable")
    cids, C = cids[order], C[order]
    inp = v.select(id_col, "e")
    out_schema = T.StructType(
        list(inp.schema.fields)
        + [T.StructField("cid", cid_type, False), T.StructField("d", T.DoubleType(), True)]
    )
    pa_cid = _pa_type(cid_type)

    def fn(batches):
        import pyarrow as pa

        step = max(1, _TILE_ELEMS // max(1, len(C)))
        for b in batches:
            X = _mat(b.column(1))
            ams, ds = [], []
            for s0 in range(0, len(X), step):
                D = _l2_rounded(X[s0 : s0 + step], C)
                _check_no_nan(D)
                am = np.argmin(D, axis=1)
                ams.append(am)
                ds.append(D[np.arange(len(D)), am])
            am = np.concatenate(ams) if ams else np.empty(0, dtype=np.int64)
            d = np.concatenate(ds) if ds else np.empty(0)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    b.column(1),
                    pa.array(cids[am], type=pa_cid),
                    pa.array(d, type=pa.float64()),
                ],
                names=[id_col, "e", "cid", "d"],
            )

    return inp.mapInArrow(fn, out_schema)


def ivf_assign_arrow(
    vectors: DataFrame,
    cent_rows,
    list_id_type: T.DataType,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side replacement for search.ivf_assign's crossJoin + cosine
    fold + struct-min plan.  ``cent_rows`` is the collected (list_id,
    centroid) table; output = input columns + (list_id, cscore), one row
    per vector, no Exchange."""
    others = [c for c in vectors.columns if c != vec_id]
    inp = vectors.select(vec_id, *others)
    if not cent_rows:
        # empty quantizer: the old crossJoin produced zero rows
        return (
            inp.where(F.lit(False))
            .withColumn("list_id", F.lit(None).cast(list_id_type))
            .withColumn("cscore", F.lit(None).cast("double"))
        )
    lids = np.asarray([r[0] for r in cent_rows], dtype=np.int64)
    C = np.asarray([r[1] for r in cent_rows], dtype=np.float64)
    order = np.argsort(lids, kind="stable")
    lids, C = lids[order], C[order]
    cn = np.sqrt(_fold_sqnorm(C))
    out_schema = T.StructType(
        list(inp.schema.fields)
        + [
            T.StructField("list_id", list_id_type, False),
            T.StructField("cscore", T.DoubleType(), True),
        ]
    )
    pa_lid = _pa_type(list_id_type)
    names = list(inp.columns) + ["list_id", "cscore"]
    vec_idx = inp.columns.index(vec_col)

    def fn(batches):
        import pyarrow as pa

        step = max(1, _TILE_ELEMS // max(1, len(C)))
        for b in batches:
            Xd = _mat(b.column(vec_idx)).astype(np.float64, copy=False)
            ams, ss = [], []
            for s0 in range(0, len(Xd), step):
                S = _cos_rounded(Xd[s0 : s0 + step], C, cn)
                _check_no_nan(S)
                am = np.argmax(S, axis=1)
                ams.append(am)
                ss.append(S[np.arange(len(S)), am])
            am = np.concatenate(ams) if ams else np.empty(0, dtype=np.int64)
            s = np.concatenate(ss) if ss else np.empty(0)
            yield pa.RecordBatch.from_arrays(
                list(b.columns)
                + [pa.array(lids[am], type=pa_lid), pa.array(s, type=pa.float64())],
                names=names,
            )

    return inp.mapInArrow(fn, out_schema)


def silhouette_scores_arrow(
    v: DataFrame,
    cid_vals,
    C: np.ndarray,
    id_col: str,
) -> DataFrame:
    """Per-row centroid silhouette terms, map-side: for each vector the
    rounded 6dp distances to ALL centroids, sorted (distance, cid) like
    array_sort(struct(od, ocid)); emits (cid = owner, s = rounded score).
    Replaces the k-way crossJoin + groupBy(collect_list) with zero
    exchanges before the final per-cluster aggregate.  Requires k >= 2
    (the b-term reads the second-nearest centroid)."""
    cids = np.asarray(cid_vals, dtype=np.int64)
    C = np.asarray(C, dtype=np.float64)
    if len(C) < 2:
        raise ValueError("silhouette kernel needs >= 2 centroids")
    order = np.argsort(cids, kind="stable")
    cids, C = cids[order], C[order]
    inp = v.select(id_col, "e")
    out_schema = T.StructType(
        [
            T.StructField("cid", T.LongType(), False),
            T.StructField("s", T.DoubleType(), True),
        ]
    )

    def fn(batches):
        import pyarrow as pa

        step = max(1, _TILE_ELEMS // max(1, len(C)))
        for b in batches:
            X = _mat(b.column(1))
            owns, ss = [], []
            for s0 in range(0, len(X), step):
                D = _l2_rounded(X[s0 : s0 + step], C)
                _check_no_nan(D)
                # stable argsort: equal distances keep cid-ascending column
                # order == array_sort(struct(od, ocid))
                o = np.argsort(D, axis=1, kind="stable")
                rows = np.arange(len(D))
                a = D[rows, o[:, 0]]
                bb = D[rows, o[:, 1]]
                g = np.maximum(a, bb)
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = np.where(g == 0.0, 0.0, _round6((bb - a) / g))
                owns.append(cids[o[:, 0]])
                ss.append(s)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(owns) if owns else np.empty(0, np.int64), type=pa.int64()),
                    pa.array(np.concatenate(ss) if ss else np.empty(0), type=pa.float64()),
                ],
                names=["cid", "s"],
            )

    return inp.mapInArrow(fn, out_schema)
