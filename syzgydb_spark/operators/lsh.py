"""Approximate nearest neighbor via random-projection LSH.

The reference's ANN index is a forest of data-dependent random-
hyperplane trees traversed best-first (/root/reference/lshtree.go:
79-99, 172-248, 283-351; 5 trees, leaf threshold 100, early stop after
200 unproductive points). Data-dependent tree splits don't map to a
precomputable batch structure, so — per SURVEY.md §2.10 — we use the
same paper family (Charikar sign-random-projection LSH) in its
set-oriented form:

* ``num_tables`` independent hash tables (≙ the 5 trees), each a
  signature column computed from ``num_planes`` static seeded
  hyperplanes;
* search = bucket equi-join per table → union → dedup → exact re-rank
  → top-k — the batch analog of best-first traversal + refine;
* recall is tuned by tables/planes instead of an early-stop counter;
  the correctness gate is recall-vs-exact, exactly how the reference
  tests itself (collection_test.go:82-101);
* **multi-probe**: the query side can additionally probe the buckets
  reached by flipping its most borderline hash coordinates
  (query-directed probing, Lv et al., VLDB'07) — recall of many tables
  at the storage/write cost of few. Probing is query-side only: the
  data keeps one signature per table.

Signatures are plain BIGINT columns (``lsh_sig_0..lsh_sig_{T-1}``), so
they persist as ordinary Parquet columns, participate in predicate
pushdown / row-group pruning, and survive upserts with no index
rebuild (the reference rebuilds its forest on every open,
collection.go:297-311).

Signatures come from one numpy closure (``_make_sig_fn``: one BLAS
matmul per batch), run in one of two places. ``with_signatures`` wraps
it in an Arrow-batched pandas UDF, so a DataFrame input is signed on the
executors. ``column_values`` calls it on the driver, which is how
``Collection.add_documents`` signs a list batch: no Spark job and no
Python worker. Everything downstream is Catalyst joins.

For Euclidean collections the signature uses quantized projections
(p-stable / E2LSH style, floor((v·a)/w)) rather than sign bits.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from syzgydb_spark.functions.vector import query_distance_sql
from syzgydb_spark.operators.knn import observe_searched, rank_by_distance

_FNV = np.int64(1099511628211)


def _make_probe_fn(planes: np.ndarray, method: str, bucket_width: float, n_probes: int):
    """Signature probes: N x T x (1+n_probes) int64 — the base bucket
    plus the buckets reached by flipping the most borderline
    coordinates (query-directed probe sequence: perturbation sets
    sorted by cost — singles, then pairs of the 8 cheapest). Python
    loops are fine here: this runs on the QUERY side only, which is
    broadcast-small by construction. Everything is nested so
    cloudpickle ships it by value."""
    num_tables, num_planes, dim = planes.shape
    flat = planes.reshape(-1, dim)
    base_fn = _make_sig_fn(planes, method, bucket_width)

    def _perturbation_sets(costs: np.ndarray) -> list[tuple[int, ...]]:
        order = np.argsort(costs)
        cand = [(float(costs[i]), (int(i),)) for i in order]
        head = order[: min(len(order), 8)]
        for a in range(len(head)):
            for b in range(a + 1, len(head)):
                i, j = int(head[a]), int(head[b])
                cand.append((float(costs[i] + costs[j]), (i, j)))
        cand.sort(key=lambda t: t[0])
        return [s for _, s in cand[:n_probes]]

    def fn(mat: np.ndarray) -> np.ndarray:
        n = mat.shape[0]
        proj = (mat @ flat.T).reshape(n, num_tables, num_planes)
        base = base_fn(mat)  # N x T
        # pre-fill with the base bucket: if fewer perturbation sets
        # exist than n_probes, the extra slots are harmless duplicates
        out = np.repeat(base[:, :, None], 1 + n_probes, axis=2)
        for r in range(n):
            for t in range(num_tables):
                if method in ("cosine", "angular"):
                    # flipping bit p costs |proj_p| (distance to the
                    # hyperplane); a flip is sig XOR (1 << p)
                    costs = np.abs(proj[r, t])
                    for pi, pset in enumerate(_perturbation_sets(costs)):
                        s = base[r, t]
                        for p in pset:
                            s = np.int64(s) ^ (np.int64(1) << np.int64(p))
                        out[r, t, 1 + pi] = s
                else:
                    # E2LSH: cell q_p = floor(proj/w); stepping to the
                    # nearer neighbor cell costs its boundary distance
                    q = np.floor(proj[r, t] / bucket_width).astype(np.int64)
                    frac = proj[r, t] / bucket_width - q
                    step = np.where(frac < 0.5, -1, 1)
                    costs = np.minimum(frac, 1.0 - frac)
                    for pi, pset in enumerate(_perturbation_sets(costs)):
                        qq = q.copy()
                        for p in pset:
                            qq[p] += step[p]
                        with np.errstate(over="ignore"):
                            h = np.int64(-3750763034362895579)
                            for p in range(num_planes):
                                h = (h ^ qq[p]) * _FNV
                        out[r, t, 1 + pi] = h
        return out

    return fn


def _make_sig_fn(planes: np.ndarray, method: str, bucket_width: float):
    """Build the signature function as a *closure* so cloudpickle ships
    it by value — executors never need the package importable (the
    tests run from the repo root, real apps don't)."""
    num_tables, num_planes, dim = planes.shape
    flat = planes.reshape(-1, dim)

    def fn(mat: np.ndarray) -> np.ndarray:
        n = mat.shape[0]
        proj = (mat @ flat.T).reshape(n, num_tables, num_planes)
        if method in ("cosine", "angular"):
            bits = (proj > 0).astype(np.int64)
            weights = np.int64(1) << np.arange(num_planes, dtype=np.int64)
            return (bits * weights).sum(axis=2)
        q = np.floor(proj / bucket_width).astype(np.int64)
        with np.errstate(over="ignore"):
            h = np.full((n, num_tables), np.int64(-3750763034362895579))
            for p in range(num_planes):
                h = (h ^ q[:, :, p]) * _FNV
        return h

    return fn


class LshIndex:
    def __init__(
        self,
        dim: int,
        *,
        num_tables: int = 5,
        num_planes: int = 16,
        seed: int = 42,
        method: str = "cosine",
        bucket_width: float = 1.0,
    ):
        if num_planes > 62:
            raise ValueError("num_planes must fit in a signed 64-bit signature")
        self.dim = dim
        self.num_tables = num_tables
        self.num_planes = num_planes
        self.seed = seed
        self.method = method
        self.bucket_width = bucket_width
        rng = np.random.default_rng(seed)
        # normalized Gaussian hyperplanes (reference lshtree.go:38-44)
        planes = rng.standard_normal((num_tables, num_planes, dim))
        planes /= np.linalg.norm(planes, axis=2, keepdims=True)
        self.planes = planes

    # -- signature math (shared by executor UDF and driver-side query) --
    def _signatures(self, mat: np.ndarray) -> np.ndarray:
        """mat: N x D  →  N x num_tables int64 signatures."""
        return _make_sig_fn(self.planes, self.method, self.bucket_width)(mat)

    def sig_cols(self) -> list[str]:
        return [f"lsh_sig_{t}" for t in range(self.num_tables)]

    def column_values(self, mat: np.ndarray) -> dict[str, np.ndarray]:
        """The signature columns of the rows of ``mat`` (N x D),
        computed on the driver: the values ``with_signatures`` stores."""
        return dict(zip(self.sig_cols(), self._signatures(mat).T))

    def with_signatures(self, df: DataFrame, vec_col: str = "vector") -> DataFrame:
        """Add one BIGINT signature column per table."""
        sig_fn = _make_sig_fn(self.planes, self.method, self.bucket_width)

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def sig_udf(vecs):
            import pandas as pd

            mat = np.array([list(v) for v in vecs], dtype=np.float64)
            if mat.size == 0:
                return pd.Series([], dtype=object)
            sigs = sig_fn(mat)
            return pd.Series(list(sigs))

        out = df.withColumn("_sigs", sig_udf(F.col(vec_col)))
        for t, name in enumerate(self.sig_cols()):
            out = out.withColumn(name, F.col("_sigs").getItem(t))
        return out.drop("_sigs")

    def query_signatures(self, vector: Sequence[float]) -> list[int]:
        return [int(s) for s in self._signatures(np.asarray([vector], dtype=np.float64))[0]]

    def query_probe_signatures(
        self, vector: Sequence[float], n_probes: int
    ) -> list[list[int]]:
        """Per table: the base bucket plus ``n_probes`` Hamming/cell-
        adjacent probe buckets, most-promising first."""
        probes = _make_probe_fn(self.planes, self.method, self.bucket_width, n_probes)(
            np.asarray([vector], dtype=np.float64)
        )[0]
        return [sorted({int(s) for s in row}) for row in probes]

    # -- search --
    def candidate_predicate(self, vector: Sequence[float], n_probes: int = 0) -> Column:
        """OR of per-table signature memberships — pushdown-friendly
        (Parquet row-group stats can prune on the sig columns). With
        ``n_probes`` > 0, each table also matches its probe buckets."""
        return F.expr(self.candidate_sql(vector, n_probes))

    def candidate_sql(self, vector: Sequence[float], n_probes: int = 0) -> str:
        """:meth:`candidate_predicate` as SQL text (BIGINT literals, the
        signature columns' type)."""
        if n_probes > 0:
            terms = [
                f"{name} IN ({', '.join(f'{s}L' for s in sigs)})"
                for name, sigs in zip(
                    self.sig_cols(), self.query_probe_signatures(vector, n_probes)
                )
            ]
        else:
            terms = [
                f"{name} = {s}L"
                for name, s in zip(self.sig_cols(), self.query_signatures(vector))
            ]
        return f"({' OR '.join(terms)})" if terms else "false"

    def search(
        self,
        df: DataFrame,
        vector: Sequence[float],
        k: int,
        *,
        radius: float = 0.0,
        filter: Column | str | None = None,
        vec_col: str = "vector",
        id_col: str = "id",
        observation: Observation | None = None,
        n_probes: int = 0,
    ) -> DataFrame:
        """Single-query ANN: bucket-candidate filter → pre-filter →
        exact re-rank → top-k. ``n_probes`` > 0 additionally probes
        Hamming-adjacent buckets per table (multi-probe: the recall of
        more tables without storing more signature columns). ``filter``
        is a boolean Column or SQL text.

        Pass an ``Observation`` to get the reference's per-search
        ``percent_searched`` metric (collection.go:700-709) in the SAME
        pass: after the action, ``observation.get`` carries
        ``points_total`` and ``points_searched`` (candidates examined).
        Note the metric requires counting all rows, so the scan can't
        skip row groups while it's on — same trade the reference makes
        by visiting points to count them."""
        pred = self.candidate_sql(vector, n_probes)
        if observation is not None:
            df = observe_searched(df, observation, pred)
        cand = df.where(pred)
        if filter is not None:
            cand = cand.where(filter)  # pre-filter before distance
        dist = query_distance_sql(vec_col, vector, self.method)
        return rank_by_distance(cand, dist, id_col, k, radius)

    def knn_join(
        self,
        data: DataFrame,
        queries: DataFrame,
        k: int,
        *,
        data_vec: str = "vector",
        data_id: str = "id",
        query_vec: str = "query_vector",
        query_id: str = "query_id",
        observation: Observation | None = None,
        n_probes: int = 0,
    ) -> DataFrame:
        """Batch ANN KNN join: per-table bucket equi-joins, candidate
        union + dedup, exact re-rank, per-query top-k.

        Scale shape: each per-table join is a hash/broadcast equi-join
        on a BIGINT key — no cross product ever materializes. This is
        the direct batch analog of lshtree.go candidate generation.
        ``n_probes`` > 0 expands the QUERY side to its multi-probe
        buckets (data-side storage unchanged; the broadcast grows by
        ×(1+n_probes)).

        ``observation`` (optional) reports ``candidate_pairs`` — the
        number of (query, point) pairs exactly re-ranked; divide by
        |data|×|queries| for the batch percent_searched.
        """
        if not set(self.sig_cols()) <= set(data.columns):
            data = self.with_signatures(data, data_vec)

        def keyed(df, idc):
            return df.select(
                idc,
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(t).alias("tbl"), F.col(c).alias("sig"))
                            for t, c in enumerate(self.sig_cols())
                        ]
                    )
                ).alias("k"),
            ).select(idc, F.col("k.tbl").alias("tbl"), F.col("k.sig").alias("sig"))

        if n_probes > 0:
            qk = self._probe_keys(queries, query_vec, query_id, n_probes)
        else:
            qk = keyed(self.with_signatures(queries, query_vec), query_id)

        # one exploded (id, table, sig) relation per side and a single
        # broadcast equi-join — the signature computation runs once,
        # not once per table
        pairs = (
            keyed(data, data_id)
            .join(F.broadcast(qk), on=["tbl", "sig"])
            .select(query_id, data_id)
            .dropDuplicates([query_id, data_id])
        )
        if observation is not None:
            pairs = pairs.observe(
                observation, F.count(F.lit(1)).alias("candidate_pairs")
            )

        # per-side norms precomputed before the pair join (cosine):
        # one fold per candidate pair instead of five — bit-identical
        # values (functions.vector.prenormed_pair_distance)
        from syzgydb_spark.functions.vector import prenormed_pair_distance

        dside, qside, dist, _helpers = prenormed_pair_distance(
            data.select(data_id, data_vec),
            queries.select(query_id, query_vec),
            data_vec, query_vec, self.method,
        )
        cand = pairs.join(dside, on=data_id).join(
            F.broadcast(qside), on=query_id
        )
        ranked = cand.withColumn("distance", dist)
        w = Window.partitionBy(query_id).orderBy(F.col("distance").asc(), F.col(data_id).asc())
        return (
            ranked.withColumn("knn_rank", F.row_number().over(w))
            .where(F.col("knn_rank") <= k)
            .select(query_id, data_id, "distance")
        )

    def _probe_keys(
        self, queries: DataFrame, vec_col: str, id_col: str, n_probes: int
    ) -> DataFrame:
        """(id, tbl, sig) rows covering each query's multi-probe
        buckets — T×(1+n_probes) rows per query, computed in one
        Arrow pass."""
        probe_fn = _make_probe_fn(self.planes, self.method, self.bucket_width, n_probes)
        num_tables = self.num_tables

        @F.pandas_udf(T.ArrayType(T.StructType([
            T.StructField("tbl", T.IntegerType()),
            T.StructField("sig", T.LongType()),
        ])))
        def probe_udf(vecs):
            import pandas as pd

            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            mat = np.array([list(v) for v in vecs], dtype=np.float64)
            sigs = probe_fn(mat)  # N x T x (1+P)
            return pd.Series(
                [
                    [
                        {"tbl": t, "sig": int(s)}
                        for t in range(num_tables)
                        for s in dict.fromkeys(row[t].tolist())
                    ]
                    for row in sigs
                ]
            )

        return (
            queries.select(id_col, F.explode(probe_udf(F.col(vec_col))).alias("k"))
            .select(id_col, F.col("k.tbl").alias("tbl"), F.col("k.sig").alias("sig"))
        )

    def to_dict(self) -> dict:
        return {
            "dim": self.dim,
            "num_tables": self.num_tables,
            "num_planes": self.num_planes,
            "seed": self.seed,
            "method": self.method,
            "bucket_width": self.bucket_width,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "LshIndex":
        return cls(
            d["dim"],
            num_tables=d["num_tables"],
            num_planes=d["num_planes"],
            seed=d["seed"],
            method=d["method"],
            bucket_width=d.get("bucket_width", 1.0),
        )
