"""Product quantization (PQ) — the compressed scale path for
similarity search.

At 100 TB, even the IVF/LSH candidate scans still read full float
vectors (a 64-d float32 embedding is 256 B/row). PQ stores each vector
as M sub-space codebook ids (M bytes at K≤256 codewords): the ADC scan
(asymmetric distance computation, Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search") reads ~3% of the bytes and
never touches the original vectors until the optional exact re-rank of
the short-list.

Spark-first shapes:

* ``fit`` — per-subspace Lloyd k-means on a bounded sample (constant
  cost at any table size), deterministic under a seed. ``from_seed``
  builds a data-independent Gaussian codebook — lower quality, but
  reproducible from the seed alone, which makes the whole encode+ADC
  pipeline expressible in SQL (the oracle-checked configuration, same
  trick as the LSH plane literals).
* ``encode`` — one vectorized Arrow pass → ``pq_code ARRAY<INT>``
  column (``column_values`` computes the same codes on the driver for
  a list upsert); persists as a plain Parquet column (M bytes/row), no
  index rebuild on open (cf. the reference rebuilding its LSH forest on
  every open, collection.go:297-311 — precomputed columns are just
  columns).
* ``adc_knn_join`` — the query side is collected (broadcast-small — a
  contract enforced by a bounded collect that dispatches to the
  distributed ANN join on overflow) and turned into per-query
  lookup tables (Q × M × K distances to every codeword, computed once);
  each data partition then scores rows with M table gathers per query
  — no float vectors move, each partition emits at most Q·k rows, and
  only that residue shuffles (the ``knn_join_fast`` residue shape).
  Optional ``rerank``: exact re-rank of the top-R ADC short-list — a
  semi-join back to the float vectors for R rows per query, never the
  full table.

The reference has no PQ (its quantization, quantization.go:5-36, is
per-component scalar storage compression; SURVEY §2.7 M6 — implemented
in collection.py). This is the north-star ANN-at-scale extension.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from syzgydb_spark.functions.vector import distance as dist_fn
from syzgydb_spark.operators.knn import (
    DEFAULT_MAX_BROADCAST_QUERIES,
    _dispatch_overflow,
    collect_bounded_queries,
)


def _subspaces(dim: int, m: int) -> list[tuple[int, int]]:
    """[start, end) slices of the vector per subspace; dim must divide
    evenly (pad upstream if not — keeps the ADC gather branch-free)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    return [(i * d, (i + 1) * d) for i in range(m)]


def _make_code_fn(codebooks: np.ndarray, method: str):
    """N x D vectors → N x M int32 codes, the nearest codeword per
    subspace. A closure so cloudpickle ships it by value (as
    ``lsh._make_sig_fn``): ``PqIndex.encode``'s pandas UDF runs it on
    executors, ``PqIndex.column_values`` on the driver."""
    normalize = method == "cosine"
    m, _, dsub = codebooks.shape

    def fn(mat: np.ndarray) -> np.ndarray:
        if normalize:
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            mat = mat / norms
        codes = np.empty((len(mat), m), dtype=np.int32)
        for mi in range(m):
            sub = mat[:, mi * dsub : (mi + 1) * dsub]
            cb = codebooks[mi]
            d2 = (
                (sub * sub).sum(axis=1)[:, None]
                + (cb * cb).sum(axis=1)[None, :]
                - 2.0 * (sub @ cb.T)
            )
            codes[:, mi] = d2.argmin(axis=1)
        return codes

    return fn


class PqIndex:
    """codebooks: (M, K, dsub) float64. method: 'euclidean' | 'cosine'
    ('cosine' normalizes inputs and reports angular distance ∈ [0,1]
    derived from the chord length, matching collection.go:821-832's
    range)."""

    def __init__(self, codebooks: np.ndarray, method: str = "euclidean"):
        cb = np.asarray(codebooks, dtype=np.float64)
        if cb.ndim != 3:
            raise ValueError("codebooks must be (M, K, dsub)")
        self.codebooks = cb
        self.m, self.k, self.dsub = cb.shape
        self.dim = self.m * self.dsub
        if method not in ("euclidean", "cosine", "angular"):
            raise ValueError(f"unsupported method {method}")
        self.method = "cosine" if method == "angular" else method

    # ------------------------------------------------------------ build

    @classmethod
    def from_seed(
        cls,
        dim: int,
        *,
        m: int = 8,
        k: int = 16,
        seed: int = 42,
        scale: float = 0.125,
        method: str = "euclidean",
    ) -> "PqIndex":
        """Data-independent Gaussian codebook (seeded). Quality is below
        a fitted codebook; determinism-from-seed makes every downstream
        value reproducible by an external SQL engine."""
        if dim % m != 0:
            # same contract as fit/_subspaces — silently flooring would
            # drop the last dim % m vector components from every ADC
            # distance
            raise ValueError(f"dim {dim} not divisible by m {m}")
        rng = np.random.default_rng(seed)
        return cls(rng.standard_normal((m, k, dim // m)) * scale, method)

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        vec_col: str = "vector",
        *,
        m: int = 8,
        k: int = 256,
        method: str = "euclidean",
        max_sample: int = 100_000,
        seed: int = 42,
        max_iter: int = 15,
    ) -> "PqIndex":
        """Per-subspace Lloyd k-means on a bounded sample — at any table
        size the fit collects ≤ ``max_sample`` rows; assignment of the
        rest is one vectorized pass (``encode``). Deterministic: the
        collected sample is row-lexicographically SORTED before the
        seeded init (collect order follows partition layout, which
        shifts with file splits and cache state — unsorted, the same
        seed picked different init rows run-to-run and the "fixed
        seed" promise was false), init draws distinct rows without
        replacement, argmin ties → lowest id, empty clusters keep
        their previous center."""
        total = df.count()
        frac = min(1.0, max_sample / max(total, 1))
        sample = df.select(vec_col)
        if frac < 1.0:
            sample = sample.sample(frac, seed=seed)
        mat = np.array([list(r[0]) for r in sample.collect()], dtype=np.float64)
        if method in ("cosine", "angular"):
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            mat = mat / norms
        if mat.size:
            mat = mat[np.lexsort(mat.T[::-1])]
        dim = mat.shape[1]
        slices = _subspaces(dim, m)
        rng = np.random.default_rng(seed)
        books = np.empty((m, k, dim // m), dtype=np.float64)
        for mi, (a, b) in enumerate(slices):
            sub = mat[:, a:b]
            kk = min(k, len(sub))
            centers = sub[rng.choice(len(sub), size=kk, replace=False)].copy()
            if kk < k:  # degenerate tiny sample: tile
                centers = np.resize(centers, (k, sub.shape[1]))
            for _ in range(max_iter):
                d2 = (
                    (sub * sub).sum(axis=1)[:, None]
                    + (centers * centers).sum(axis=1)[None, :]
                    - 2.0 * (sub @ centers.T)
                )
                assign = d2.argmin(axis=1)
                for c in range(k):
                    pts = sub[assign == c]
                    if len(pts):
                        centers[c] = pts.mean(axis=0)
            books[mi] = centers
        return cls(books, method)

    # ----------------------------------------------------------- encode

    def encode(self, df: DataFrame, vec_col: str = "vector") -> DataFrame:
        """Append ``pq_code ARRAY<INT>`` (length M), computed on the
        executors by a pandas UDF around ``_make_code_fn``. Self-contained
        Arrow closure — executors never import this package. A list
        batch of ``Collection.add_documents`` gets the same codes on the
        driver instead (``column_values``)."""
        code_fn = _make_code_fn(self.codebooks, self.method)

        @F.pandas_udf("array<int>")
        def code_udf(vecs):
            import pandas as pd

            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            mat = np.array([list(v) for v in vecs], dtype=np.float64)
            return pd.Series([row.tolist() for row in code_fn(mat)])

        return df.withColumn("pq_code", code_udf(F.col(vec_col)))

    def column_values(self, mat: np.ndarray) -> dict[str, np.ndarray]:
        """The ``pq_code`` of the rows of ``mat`` (N x D, an N x M int32
        array), computed on the driver: the values ``encode`` stores."""
        return {"pq_code": _make_code_fn(self.codebooks, self.method)(mat)}

    # -------------------------------------------------------------- ADC

    def _luts(self, q_mat: np.ndarray) -> np.ndarray:
        """Q × M × K table of squared subspace distances."""
        Q = q_mat.shape[0]
        luts = np.empty((Q, self.m, self.k), dtype=np.float64)
        for mi in range(self.m):
            qs = q_mat[:, mi * self.dsub : (mi + 1) * self.dsub]  # Q x d
            cb = self.codebooks[mi]  # K x d
            luts[:, mi, :] = (
                (qs * qs).sum(axis=1)[:, None]
                + (cb * cb).sum(axis=1)[None, :]
                - 2.0 * (qs @ cb.T)
            )
        return np.maximum(luts, 0.0)

    def adc_knn_join(
        self,
        data: DataFrame,
        queries: DataFrame,
        k: int,
        *,
        rerank: int | None = None,
        data_vec: str = "vector",
        data_id: str = "id",
        query_vec: str = "query_vector",
        query_id: str = "query_id",
        max_broadcast_queries: int = DEFAULT_MAX_BROADCAST_QUERIES,
        ann=None,
    ) -> DataFrame:
        """Batch KNN join over PQ codes. ``rerank=R`` re-ranks the top-R
        ADC candidates per query with exact distances (R ≥ k); None
        returns pure-ADC distances (column ``distance`` either way).

        The per-query ADC lookup tables are built on the driver, so the
        query relation must be driver-sized — enforced by a bounded
        collect: above ``max_broadcast_queries`` rows the join
        dispatches to the distributed ``ann.knn_join`` (exact re-rank
        over bucket candidates) or raises
        :class:`~syzgydb_spark.operators.knn.QueryRelationTooLarge`."""
        if "pq_code" not in data.columns:
            data = self.encode(data, data_vec)
        q_rows = collect_bounded_queries(
            queries, query_id, query_vec, max_broadcast_queries
        )
        if q_rows is None:
            return _dispatch_overflow(
                "adc_knn_join",
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
        q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
        if self.method == "cosine":
            norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            q_mat = q_mat / norms
        luts = self._luts(q_mat)  # Q x M x K
        flat_luts = luts.reshape(luts.shape[0], -1)  # Q x (M*K)
        m, kcb = self.m, self.k
        shortlist = max(k, rerank or k)
        # plain locals only: a bound-method reference (self._finalize)
        # would pickle the class by reference and executors would need
        # this package importable (they don't, outside the repo root)
        cosine = self.method == "cosine"

        out_schema = f"{query_id} long, {data_id} long, distance double"

        def part(batches) -> Iterator:
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf[data_id].to_numpy(dtype=np.int64)
                codes = np.array([list(c) for c in pdf["pq_code"]], dtype=np.int64)
                # gather-sum: D[q, n] = Σ_m lut[q, m, code[n, m]]
                d2 = np.zeros((flat_luts.shape[0], len(ids)), dtype=np.float64)
                for mi in range(m):
                    d2 += flat_luts[:, mi * kcb + codes[:, mi]]
                d2 = d2.T  # N x Q
                if cosine:
                    dists = np.arccos(np.clip(1.0 - d2 / 2.0, -1.0, 1.0)) / np.pi
                else:
                    dists = np.sqrt(np.maximum(d2, 0.0))
                kk = min(shortlist, dists.shape[0])
                top = np.argpartition(dists, kk - 1, axis=0)[:kk]
                yield pd.DataFrame(
                    {
                        query_id: np.repeat(q_ids, kk),
                        data_id: ids[top.T.ravel()],
                        "distance": np.take_along_axis(dists, top, axis=0).T.ravel(),
                    }
                )

        local = data.select(data_id, "pq_code").mapInPandas(part, schema=out_schema)
        w = Window.partitionBy(query_id).orderBy(
            F.col("distance").asc(), F.col(data_id).asc()
        )
        short = (
            local.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= shortlist)
            .drop("rk")
        )
        if rerank is None:
            return short  # shortlist == k here
        # exact re-rank of the short-list: join R rows/query back to the
        # float vectors (semi-join-sized, never the full table)
        qv = queries.select(
            F.col(query_id), F.col(query_vec).alias("_qv")
        )
        dv = data.select(F.col(data_id), F.col(data_vec).alias("_dv"))
        method = "cosine" if self.method == "cosine" else "euclidean"
        exact = (
            short.drop("distance")
            .join(F.broadcast(qv), query_id)
            .join(dv, data_id)
            .withColumn("distance", dist_fn(F.col("_dv"), F.col("_qv"), method))
            .drop("_qv", "_dv")
        )
        return (
            exact.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .drop("rk")
        )

    def ivf_adc_knn_join(
        self,
        data: DataFrame,
        queries: DataFrame,
        k: int,
        *,
        ivf,
        n_probes: int = 8,
        rerank: int | None = None,
        data_vec: str = "vector",
        data_id: str = "id",
        query_vec: str = "query_vector",
        query_id: str = "query_id",
        observation=None,
        max_broadcast_queries: int = DEFAULT_MAX_BROADCAST_QUERIES,
        ann=None,
    ) -> DataFrame:
        """IVF-PQ: the standard composition for ANN at extreme scale
        (FAISS's IVFADC, Jégou et al. 2011 §IV) — a coarse quantizer
        prunes the candidate set to the ``n_probes`` nearest cells per
        query, and only those candidates are scored with the M-byte ADC
        codes; optional exact re-rank of the short-list touches float
        vectors for R rows per query.

        Plan: queries explode to probe cells (``ivf`` =
        :class:`~syzgydb_spark.operators.ivf.IvfIndex`) and broadcast;
        the cell equi-join restricts data to matching cells WITH
        partition/row-group pruning when the table is laid out by
        ivf_cell; per-partition numpy gathers score each (candidate,
        query) pair against that query's lookup table; per-query top-k
        on the pruned candidate set. Versus plain ``adc_knn_join`` the
        scan shrinks by ~n_probes/n_clusters; versus IVF-with-floats
        the scored bytes shrink by ~dim·4/M.
        """
        if "pq_code" not in data.columns:
            data = self.encode(data, data_vec)
        if "ivf_cell" not in data.columns:
            data = ivf.with_cells(data, data_vec)

        # same driver-sized-LUT contract as adc_knn_join, same
        # enforcement: bounded collect, distributed dispatch on
        # overflow (default to the coarse quantizer's own join —
        # it probes cells with a pandas_udf, never a driver collect)
        q_rows = collect_bounded_queries(
            queries, query_id, query_vec, max_broadcast_queries
        )
        if q_rows is None:
            return _dispatch_overflow(
                "ivf_adc_knn_join",
                ann if ann is not None else ivf,
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
        q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
        if self.method == "cosine":
            norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            q_mat = q_mat / norms
        flat_luts = self._luts(q_mat).reshape(len(q_ids), -1)  # Q x (M*K)
        qpos = {int(q): i for i, q in enumerate(q_ids)}
        probe_mat = ivf._nearest_cells(q_mat, n_probes)  # Q x p

        spark = data.sparkSession
        probes = spark.createDataFrame(
            [
                (int(q_ids[i]), int(c))
                for i in range(len(q_ids))
                for c in probe_mat[i]
            ],
            f"{query_id} long, ivf_cell int",
        )
        cand = data.select(data_id, "ivf_cell", "pq_code").join(
            F.broadcast(probes), "ivf_cell"
        )
        if observation is not None:
            # the reference reports per-search percent_searched
            # (collection.go:700-709); the batch analog is candidate
            # pairs ADC-scored vs |data|·|queries|
            cand = cand.observe(
                observation, F.count(F.lit(1)).alias("candidate_pairs")
            )

        m, kcb = self.m, self.k
        cosine = self.method == "cosine"
        shortlist = max(k, rerank or k)
        out_schema = f"{query_id} long, {data_id} long, distance double"

        def part(batches) -> Iterator:
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf[data_id].to_numpy(dtype=np.int64)
                qids = pdf[query_id].to_numpy(dtype=np.int64)
                qidx = np.array([qpos[int(q)] for q in qids], dtype=np.int64)
                codes = np.array([list(c) for c in pdf["pq_code"]], dtype=np.int64)
                # per-row gather against the row's own query LUT
                d2 = np.zeros(len(ids), dtype=np.float64)
                for mi in range(m):
                    d2 += flat_luts[qidx, mi * kcb + codes[:, mi]]
                if cosine:
                    dists = np.arccos(np.clip(1.0 - d2 / 2.0, -1.0, 1.0)) / np.pi
                else:
                    dists = np.sqrt(np.maximum(d2, 0.0))
                # partition-local top-shortlist per query present here
                out_q, out_i, out_d = [], [], []
                df_local = pd.DataFrame({"q": qids, "i": ids, "d": dists})
                for q, grp in df_local.groupby("q", sort=False):
                    top = grp.nsmallest(shortlist, "d")
                    out_q.append(top["q"].to_numpy())
                    out_i.append(top["i"].to_numpy())
                    out_d.append(top["d"].to_numpy())
                yield pd.DataFrame(
                    {
                        query_id: np.concatenate(out_q),
                        data_id: np.concatenate(out_i),
                        "distance": np.concatenate(out_d),
                    }
                )

        local = cand.mapInPandas(part, schema=out_schema)
        w = Window.partitionBy(query_id).orderBy(
            F.col("distance").asc(), F.col(data_id).asc()
        )
        short = (
            local.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= shortlist)
            .drop("rk")
        )
        if rerank is None:
            return short
        qv = queries.select(F.col(query_id), F.col(query_vec).alias("_qv"))
        dv = data.select(F.col(data_id), F.col(data_vec).alias("_dv"))
        method = "cosine" if self.method == "cosine" else "euclidean"
        exact = (
            short.drop("distance")
            .join(F.broadcast(qv), query_id)
            .join(dv, data_id)
            .withColumn("distance", dist_fn(F.col("_dv"), F.col("_qv"), method))
            .drop("_qv", "_dv")
        )
        return (
            exact.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .drop("rk")
        )

    def search(
        self,
        df: DataFrame,
        vector: Sequence[float],
        k: int,
        *,
        rerank: int | None = None,
        vec_col: str = "vector",
        id_col: str = "id",
    ) -> DataFrame:
        """Single-query convenience over the same ADC plan (1-row query
        side), preserving the engine's TakeOrderedAndProject shape."""
        spark = df.sparkSession
        q = spark.createDataFrame(
            [(0, [float(x) for x in vector])],
            f"query_id long, query_vector array<double>",
        )
        res = self.adc_knn_join(
            df, q, k, rerank=rerank, data_vec=vec_col, data_id=id_col
        )
        return res.select(id_col, "distance")

    # ------------------------------------------------------ persistence

    def to_dict(self) -> dict:
        return {"codebooks": self.codebooks.tolist(), "method": self.method}

    @classmethod
    def from_dict(cls, d: dict) -> "PqIndex":
        return cls(np.asarray(d["codebooks"]), d["method"])
