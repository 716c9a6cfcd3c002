"""Exact k-nearest-neighbor / radius / listing search operators.

Reference semantics: ``Collection.Search`` (/root/reference/
collection.go:569-711) — pre-filter (filter applied *before* distance,
collection.go:592), radius bound, bounded-heap top-k ordered ascending
by distance, and a paginated listing path when neither k nor radius is
given (collection.go:633-668).

Spark-first execution:

* single-query top-k compiles to ``ORDER BY dist LIMIT k`` →
  Catalyst ``TakeOrderedAndProject`` — per-partition bounded heaps
  merged on the driver, the distributed generalization of the
  reference's ``resultPriorityQueue`` (collection.go:536-564);
* the filter is a native Column predicate, so Catalyst pushes it into
  the scan (the reference hand-codes pre-filtering; we get it from the
  optimizer plus Parquet row-group pruning);
* multi-query batch KNN is a *KNN join*: broadcast the query side,
  compute distances, keep top-k per query. ``knn_join`` is the pure
  Catalyst form; ``knn_join_fast`` is the Arrow/numpy form that
  computes per-partition local top-k inside ``mapInPandas`` (BLAS
  matmul) and then merges the tiny residue — at N data × Q queries the
  shuffle is O(partitions·Q·k) rows instead of O(N·Q).
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from syzgydb_spark import sqltext as S
from syzgydb_spark.functions.vector import query_distance_sql
from syzgydb_spark.query.compiler import where_filter

#: Largest query relation the Arrow-closure KNN paths will ship to the
#: driver. Beyond this the "Q·k small by construction" contract no
#: longer holds and the operator must take a distributed path instead
#: of silently OOMing the driver at scale.
DEFAULT_MAX_BROADCAST_QUERIES = 65536


class QueryRelationTooLarge(ValueError):
    """The query side exceeds the driver-broadcast bound and no
    distributed fallback (``ann=``) was supplied."""


def collect_bounded_queries(
    queries: DataFrame, query_id: str, query_vec: str, max_rows: int
):
    """Collect the query relation iff it fits the broadcast bound.

    The check itself is bounded: a ``LIMIT max_rows+1`` collect moves at
    most ``max_rows+1`` rows to the driver regardless of the true size
    of the relation — there is no unguarded ``count()`` scan and no
    unbounded materialization. Returns the row list, or ``None`` when
    the relation has more than ``max_rows`` rows.
    """
    rows = queries.select(query_id, query_vec).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    return rows


def _dispatch_overflow(
    op_name: str,
    ann,
    data: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    data_vec: str,
    data_id: str,
    query_vec: str,
    query_id: str,
    max_rows: int,
) -> DataFrame:
    """Shared overflow policy for the Arrow-closure KNN paths: hand the
    join to a distributed ANN index (LshIndex / IvfIndex — neither
    collects the query relation), or fail loudly with the alternatives
    named. Never proceed with an unbounded driver collect."""
    if ann is not None:
        return ann.knn_join(
            data,
            queries,
            k,
            data_vec=data_vec,
            data_id=data_id,
            query_vec=query_vec,
            query_id=query_id,
        )
    raise QueryRelationTooLarge(
        f"{op_name}: query relation exceeds max_broadcast_queries="
        f"{max_rows}. This operator ships the query set in the Arrow "
        "closure and is only valid for driver-sized query relations. "
        "For a large query side pass ann=LshIndex(...)/IvfIndex(...) "
        "to auto-dispatch to the distributed bucket join, or call "
        "LshIndex.knn_join / IvfIndex.knn_join directly, or raise "
        "max_broadcast_queries if the driver genuinely has the memory."
    )


def search(
    df: DataFrame,
    vector: Sequence[float] | None = None,
    *,
    k: int = 0,
    radius: float = 0.0,
    filter: str | Column | None = None,
    method: str = "euclidean",
    vector_col: str = "vector",
    id_col: str = "id",
    offset: int = 0,
    limit: int = 0,
    metadata_col: str = "metadata",
    id_order: str = "numeric",
) -> DataFrame:
    """The reference's Search entry point as a DataFrame transform.

    * ``k`` > 0          → top-k by distance (ascending), optional radius
    * ``radius`` > 0     → all rows within radius, ascending
    * neither            → paginated listing ordered by id
      (collection.go:633-668; offset counts post-filter rows)

    The filter may be a filter-language string (compiled against
    ``metadata_col``) or a boolean Column; it is applied before
    distance, preserving the reference's pre-filter ANN semantics
    (collection.go:592).
    """
    if id_order not in ("numeric", "lexicographic"):
        # validate on every branch, not just listing — a typo'd value
        # on a vector search would otherwise be silently ignored
        raise ValueError(f"unknown id_order: {id_order!r}")
    out = df
    if filter is not None:
        if isinstance(filter, str):
            out = where_filter(out, filter, metadata_col)
        else:
            out = out.where(filter)

    if vector is None or (k <= 0 and radius <= 0.0):
        # listing path: order by id, offset/limit. Default is numeric
        # id order (the idiomatic choice, matching the reference's own
        # GetAllIDs, collection.go:326-342); ``id_order='lexicographic'``
        # reproduces the reference's LISTING order exactly — it sorts
        # decimal id strings, so "10" < "2" (spanfile.go:540-560).
        if id_order == "lexicographic":
            out = out.orderBy(F.col(id_col).cast("string"))
        else:
            out = out.orderBy(F.col(id_col))
        if offset > 0:
            out = out.offset(offset)
        if limit > 0:
            out = out.limit(limit)
        return out

    return rank_by_distance(
        out, query_distance_sql(vector_col, vector, method), id_col, k, radius
    )


def observe_searched(df: DataFrame, observation, pred_sql: str) -> DataFrame:
    """Attach ``observation`` to ``df``: ``points_total`` counts every
    row, ``points_searched`` the rows the candidate predicate
    ``pred_sql`` (SQL text) keeps — the reference's percent_searched
    (collection.go:700-709) in the query's own pass."""
    return df.observe(
        observation,
        F.expr("count(1) AS points_total"),
        F.expr(f"coalesce(sum(CAST({pred_sql} AS BIGINT)), 0) AS points_searched"),
    )


def rank_by_distance(
    df: DataFrame, dist_sql: str, id_col: str, k: int, radius: float = 0.0
) -> DataFrame:
    """``df`` with a ``distance`` column (SQL text ``dist_sql``), within
    ``radius`` when it is > 0, ascending by (distance, id), the first
    ``k`` rows when ``k`` > 0: the tail every single-query search
    shares. Built from strings, a handful of py4j calls."""
    out = df.withColumn("distance", F.expr(dist_sql))
    if radius > 0.0:
        out = out.where(f"distance <= {S.double(radius)}")
    # ascending is the default order; F.col(...).asc() would cost a
    # dozen more round trips per key
    out = out.sort(F.expr("distance"), F.expr(S.column(id_col)))
    return out.limit(k) if k > 0 else out


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    method: str = "euclidean",
    data_vec: str = "vector",
    query_vec: str = "query_vector",
    query_id: str = "query_id",
    data_id: str = "id",
    filter: Column | None = None,
) -> DataFrame:
    """Batch KNN join, pure Catalyst: every query row joined to its k
    nearest data rows.

    The query side is broadcast (small dimension table pattern), the
    fact side streams; per-query top-k via a rank window over the
    product, tie-broken on ``data_id`` (duplicate vectors are normal in
    a dedup corpus — distance-only ordering would make the returned id
    set depend on shuffle order, and every other KNN path tie-breaks
    the same way). Correctness baseline — for the scale path over huge
    N·Q see ``knn_join_fast`` and the LSH operator.
    """
    if filter is not None:
        data = data.where(filter)
    # per-side norms precomputed before the pair join (cosine): one
    # fold per (data × query) pair instead of five — bit-identical
    # values (functions.vector.prenormed_pair_distance)
    from syzgydb_spark.functions.vector import prenormed_pair_distance

    data, queries, dist, helpers = prenormed_pair_distance(
        data, queries, data_vec, query_vec, method
    )
    joined = data.crossJoin(F.broadcast(queries)).withColumn("distance", dist)
    order = [F.col("distance").asc()]
    if data_id in data.columns:
        order.append(F.col(data_id).asc())
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        joined.withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
        .drop("knn_rank", *helpers)
    )


def knn_join_fast(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    method: str = "euclidean",
    data_vec: str = "vector",
    data_id: str = "id",
    query_vec: str = "query_vector",
    query_id: str = "query_id",
    max_broadcast_queries: int = DEFAULT_MAX_BROADCAST_QUERIES,
    ann=None,
) -> DataFrame:
    """Batch KNN join, Arrow path: numpy matmul per partition, local
    top-k, then a global merge of partitions·Q·k candidate rows.

    This is the 100 TB shape: distances never shuffle — each data
    partition emits at most Q·k rows, and only that residue moves.
    The query set is shipped in the Arrow closure, which is only valid
    while it is driver-sized — and that contract is ENFORCED, not
    documented: the collect is bounded at ``max_broadcast_queries``
    rows, and a larger query relation either dispatches to the
    distributed ``ann.knn_join`` (pass an ``LshIndex``/``IvfIndex``)
    or raises :class:`QueryRelationTooLarge`. At 100× scale a
    million-row query side therefore takes the bucket-join path
    instead of silently OOMing the driver.
    """
    import numpy as np
    import pandas as pd

    q_rows = collect_bounded_queries(
        queries, query_id, query_vec, max_broadcast_queries
    )
    if q_rows is None:
        return _dispatch_overflow(
            "knn_join_fast",
            ann,
            data,
            queries,
            k,
            data_vec=data_vec,
            data_id=data_id,
            query_vec=query_vec,
            query_id=query_id,
            max_rows=max_broadcast_queries,
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)  # Q x D
    if method in ("cosine", "angular"):
        q_norm = np.linalg.norm(q_mat, axis=1)

    out_schema = f"{query_id} long, {data_id} long, distance double"

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Q = q_mat.shape[0]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[data_id].to_numpy(dtype=np.int64)
            mat = np.array([list(v) for v in pdf[data_vec]], dtype=np.float64)  # N x D
            if method in ("cosine", "angular"):
                d_norm = np.linalg.norm(mat, axis=1)
                denom = np.outer(d_norm, q_norm)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (mat @ q_mat.T) / denom
                cos = np.clip(np.nan_to_num(cos, nan=-1.0), -1.0, 1.0)
                dists = np.arccos(cos) / np.pi
                zero = (d_norm == 0)[:, None] | (q_norm == 0)[None, :]
                dists = np.where(zero, 1.0, dists)
            else:
                # ‖a-b‖² = ‖a‖² + ‖b‖² - 2a·b  (BLAS-friendly)
                d2 = (
                    (mat * mat).sum(axis=1)[:, None]
                    + (q_mat * q_mat).sum(axis=1)[None, :]
                    - 2.0 * (mat @ q_mat.T)
                )
                dists = np.sqrt(np.maximum(d2, 0.0))
            kk = min(k, dists.shape[0])
            top = np.argpartition(dists, kk - 1, axis=0)[:kk]  # kk x Q
            rows = {
                query_id: np.repeat(q_ids, kk),
                data_id: ids[top.T.ravel()],
                "distance": np.take_along_axis(dists, top, axis=0).T.ravel(),
            }
            yield pd.DataFrame(rows)

    local = data.select(data_id, data_vec).mapInPandas(part, schema=out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("distance").asc(), F.col(data_id).asc())
    return (
        local.withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
        .drop("knn_rank")
    )
