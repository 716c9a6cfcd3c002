"""Vector scalar functions as Catalyst higher-order-function expressions.

Semantics mirror the reference (/root/reference/collection.go:812-832,
lshtree.go:10-44,136-156); execution is pure JVM expressions, no Python
per row. ``zip_with``/``aggregate``/``transform`` are CodegenFallback:
the operator holding them runs interpreted (a search's distance
Project carries no ``*(n)`` codegen marker, while the scan-side Filter
under it does), and each array fold in the expression tree is one
interpreted pass over the vector per row.

* Euclidean: sqrt(Σ (a-b)²)                        (collection.go:812-819)
* Cosine / angular: acos(dot/(‖a‖·‖b‖))/π ∈ [0,1];
  either vector zero → 1.0                          (collection.go:821-832)
  (dot/norms are clamped to [-1,1] before acos — float error can push
  the ratio slightly out of domain)
* dot, norm, normalize (zero vector unchanged), midpoint
  (lshtree.go:10-44, 136-156)

All functions cast inputs to ARRAY<DOUBLE> first so float32-stored
embeddings (the 32-bit quantization tier) compare in double precision,
matching the reference's float64 math.

:func:`query_distance_sql` is the single-query form: the distance from
a stored vector column to one query vector known on the driver, as SQL
text with the query as one array literal.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from syzgydb_spark import sqltext as S


def _dbl(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ (reference lshtree.go:136-145)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """‖a‖₂ (reference lshtree.go:10-20)."""
    return F.sqrt(
        F.aggregate(F.transform(_dbl(a), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def l2_normalize(a: Column | str) -> Column:
    """a/‖a‖; zero vector returned unchanged (reference lshtree.go:22-36)."""
    a = _dbl(a)
    n = l2_norm(a)
    return F.when(n == 0.0, a).otherwise(F.transform(a, lambda x: x / n))


def vector_mid(a: Column | str, b: Column | str) -> Column:
    """Elementwise midpoint (reference lshtree.go:147-156)."""
    return F.zip_with(_dbl(a), _dbl(b), lambda x, y: (x + y) / 2.0)


def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    """sqrt(Σ (aᵢ-bᵢ)²) (reference collection.go:812-819)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(_dbl(a), _dbl(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """Angular distance acos(cosΘ)/π ∈ [0,1]; a zero vector on either
    side yields 1.0 (reference collection.go:821-832). The cosine is
    clamped to [-1,1] to keep acos in domain under float rounding."""
    a, b = _dbl(a), _dbl(b)
    na, nb = l2_norm(a), l2_norm(b)
    cos = dot_product(a, b) / (na * nb)
    clamped = F.least(F.greatest(cos, F.lit(-1.0)), F.lit(1.0))
    return F.when((na == 0.0) | (nb == 0.0), F.lit(1.0)).otherwise(
        F.acos(clamped) / F.lit(math.pi)
    )


def cosine_distance_prenormed(
    a: Column | str, b: Column | str, na: Column, nb: Column
) -> Column:
    """``cosine_distance`` with the two L2 norms precomputed as input
    COLUMNS (``na`` = ‖a‖, ``nb`` = ‖b‖, from :func:`l2_norm`). Same
    arithmetic tree — dot/(na·nb), clamp to [-1,1], acos/π, zero
    vector → 1.0 — so the values are bit-identical to
    ``cosine_distance``; the difference is evaluation shape. In a
    candidate-pair re-rank the inlined form folds each norm TWICE per
    pair (the zero test and the denominator both re-fold the array:
    the HOF folds are CodegenFallback, so the Project holding them is
    interpreted and no subexpression elimination shares them): five
    interpreted array folds per candidate pair. Computing the norms once per input ROW before the pair join
    leaves ONE fold (the dot product) per pair — the §1.2 "per-task
    work" reduction for every ANN re-rank. Catalyst cannot re-inline
    the norm columns through the join, so the shape is stable."""
    cos = dot_product(a, b) / (na * nb)
    clamped = F.least(F.greatest(cos, F.lit(-1.0)), F.lit(1.0))
    return F.when((na == 0.0) | (nb == 0.0), F.lit(1.0)).otherwise(
        F.acos(clamped) / F.lit(math.pi)
    )


def cosine_distance_batch(a: Column | str, b: Column | str) -> Column:
    """Arrow-batched numpy angular distance — same semantics as
    ``cosine_distance`` (zero vector → 1.0, clamped acos) but evaluated
    per Arrow batch with BLAS instead of per row in the interpreter.
    Use in pair-verify hot paths where each row is a candidate pair;
    the expression form remains the oracle/conformance reference.

    numpy's pairwise summation and the sequential HOF fold can differ
    in the last float64 bit; callers comparing against an expression
    oracle should round (the entry queries round to 6 dp)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(pa, pb):
        import numpy as np
        import pandas as pd

        la, lb = pa.tolist(), pb.tolist()
        # NULL vectors and pairs of unequal length → NULL, exactly like
        # the expression form (a raw np.array() would raise on a None
        # element or a ragged batch and abort the job). Valid rows are
        # vectorized per common length (one matmul per length group —
        # a homogeneous batch pays a single pass, as before).
        groups: dict[int, list[int]] = {}
        for i, (x, y) in enumerate(zip(la, lb)):
            if x is not None and y is not None and len(x) == len(y):
                groups.setdefault(len(x), []).append(i)
        result: list = [None] * len(la)
        for idxs in groups.values():
            va = np.array([la[i] for i in idxs], dtype=np.float64)
            vb = np.array([lb[i] for i in idxs], dtype=np.float64)
            dots = np.einsum("ij,ij->i", va, vb)
            na = np.sqrt(np.einsum("ij,ij->i", va, va))
            nb = np.sqrt(np.einsum("ij,ij->i", vb, vb))
            denom = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.clip(dots / denom, -1.0, 1.0)
            out = np.arccos(cos) / np.pi
            out[denom == 0.0] = 1.0
            for j, i in enumerate(idxs):
                result[i] = float(out[j])
        return pd.Series(result, dtype=object)

    # Pure function, marked nondeterministic ONLY to pin a single
    # evaluation site: verify paths filter on the returned distance,
    # and the optimizer duplicates (not moves) the ArrowEvalPython
    # node under a pushed filter — every candidate pair paid the
    # cosine kernel twice (plan-verified: two identical _cos nodes,
    # one feeding the Filter, one the Project).
    return _cos.asNondeterministic()(_dbl(a), _dbl(b))


#: helper-column names used by prenormed_pair_distance; callers whose
#: result schema is "all input columns" must drop the returned helpers
_PAIR_NORM_D = "_syz_norm_d"
_PAIR_NORM_Q = "_syz_norm_q"


def prenormed_pair_distance(data, queries, data_vec, query_vec, method):
    """Prepare the two sides of a candidate-pair re-rank for the
    cheapest exact distance evaluation. For cosine/angular, attaches
    each side's L2 norm as a helper column (computed once per input
    row, NOT per pair) and returns the :func:`cosine_distance_prenormed`
    column; for other methods the sides pass through unchanged and the
    plain :func:`distance` dispatch is returned (euclidean is already a
    single fold). Returns ``(data, queries, dist_col, helper_cols)`` —
    values are bit-identical to ``distance(data_vec, query_vec,
    method)`` in every case."""
    if method.lower() in ("cosine", "angular"):
        data = data.withColumn(_PAIR_NORM_D, l2_norm(F.col(data_vec)))
        queries = queries.withColumn(_PAIR_NORM_Q, l2_norm(F.col(query_vec)))
        dist = cosine_distance_prenormed(
            F.col(data_vec), F.col(query_vec),
            F.col(_PAIR_NORM_D), F.col(_PAIR_NORM_Q),
        )
        return data, queries, dist, [_PAIR_NORM_D, _PAIR_NORM_Q]
    return data, queries, distance(F.col(data_vec), F.col(query_vec), method), []


def _fold_sum_sql(arr: str) -> str:
    """Σ over an ARRAY<DOUBLE>, left to right from 0.0 (the fold order
    of :func:`dot_product` / :func:`l2_norm`)."""
    return f"aggregate({arr}, 0.0D, (acc, x) -> acc + x)"


def query_distance_sql(vector_col: str, query, method: str = "euclidean") -> str:
    """SQL text of ``distance(vector_col, query, method)`` for ONE
    driver-side query vector, values bit-identical to the Column form.

    The query goes in as one ``array(…D)`` literal, not one Column
    literal per component. For cosine the query's norm is a
    driver-computed double, summed in the fold's own left-to-right
    order (``acc + x*x`` from 0.0, then sqrt: the same IEEE operations
    the JVM runs), so each row pays three array folds (the dot product
    and its own norm twice: the zero test and the denominator) instead
    of five."""
    q = [float(x) for x in query]
    vec = f"CAST({S.column(vector_col)} AS ARRAY<DOUBLE>)"
    qarr = S.double_array(q)
    method = method.lower()
    if method in ("euclidean", "l2"):
        return "sqrt({})".format(
            _fold_sum_sql(f"zip_with({vec}, {qarr}, (x, y) -> (x - y) * (x - y))")
        )
    if method not in ("cosine", "angular"):
        raise ValueError(f"unknown distance method {method!r}")
    acc = 0.0
    for x in q:
        acc = acc + x * x
    nq = math.sqrt(acc)
    if nq == 0.0:
        return S.double(1.0)  # a zero query is at distance 1.0 from every row
    dot = _fold_sum_sql(f"zip_with({vec}, {qarr}, (x, y) -> x * y)")
    nv = "sqrt({})".format(_fold_sum_sql(f"transform({vec}, x -> x * x)"))
    clamped = f"least(greatest({dot} / ({nv} * {S.double(nq)}), -1.0D), 1.0D)"
    return (
        f"CASE WHEN ({nv} = 0.0D) THEN 1.0D "
        f"ELSE (acos({clamped}) / {S.double(math.pi)}) END"
    )


def distance(a: Column | str, b: Column | str, method: str = "euclidean") -> Column:
    """Dispatch on the collection's distance method
    (reference collection.go:804-810)."""
    method = method.lower()
    if method in ("euclidean", "l2"):
        return euclidean_distance(a, b)
    if method in ("cosine", "angular"):
        return cosine_distance(a, b)
    raise ValueError(f"unknown distance method {method!r}")
