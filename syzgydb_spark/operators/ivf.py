"""IVF (inverted-file) approximate nearest neighbor — the second scale
path for similarity search next to hyperplane LSH (operators/lsh.py).

IVF fits a coarse quantizer (k-means centroids, MLlib KMeans trained on
a sample) and stores each row's nearest-centroid id as a plain INT
``ivf_cell`` column. Search probes the ``n_probes`` nearest cells:

* single query: ``WHERE ivf_cell IN (...)`` — an equi-predicate on a
  low-cardinality column that parquet partition/row-group pruning can
  use directly (at scale, partition the table by ivf_cell and probing
  becomes partition pruning) — then exact re-rank of the probed cells;
* batch KNN join: queries explode to their probe cells → equi-join on
  cell → per-query top-k. Shuffle keys are INTs; no cross product.

The reference has no IVF (its ANN is the LSH forest, lshtree.go); this
implements the north-star "IVF or LSH-bucketed variant as the scale
path" requirement. Recall is tuned by (n_clusters, n_probes); the gate
is recall-vs-exact, as for LSH.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from syzgydb_spark.functions.vector import query_distance_sql
from syzgydb_spark.operators.knn import observe_searched, rank_by_distance


def _make_nearest_fn(centers: np.ndarray, method: str):
    """B x D vectors → each row's nearest center id. A closure so
    cloudpickle ships it by value (as ``lsh._make_sig_fn``): the
    ``mapInPandas`` passes of ``with_cells`` and ``with_cell_distances``
    run it on executors, ``IvfIndex.column_values`` on the driver.
    ``centers`` are the comparison centers (unit rows for cosine)."""

    def nearest(mat):
        if method in ("cosine", "angular"):
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            return ((mat / norms) @ centers.T).argmax(axis=1)
        d2 = (
            (mat * mat).sum(axis=1)[:, None]
            + (centers * centers).sum(axis=1)[None, :]
            - 2.0 * (mat @ centers.T)
        )
        return d2.argmin(axis=1)

    return nearest


class IvfIndex:
    def __init__(self, centers: np.ndarray, method: str = "euclidean"):
        self.centers = np.asarray(centers, dtype=np.float64)
        self.method = method
        if method in ("cosine", "angular"):
            norms = np.linalg.norm(self.centers, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            self._cmp_centers = self.centers / norms
        else:
            self._cmp_centers = self.centers

    # ---- build ----
    @classmethod
    def fit(
        cls,
        df: DataFrame,
        vec_col: str = "vector",
        *,
        n_clusters: int = 64,
        method: str = "euclidean",
        sample_fraction: float | None = None,
        max_sample: int = 100_000,
        seed: int = 42,
        max_iter: int = 20,
    ) -> "IvfIndex":
        """Train the coarse quantizer with MLlib KMeans on a sample.

        The sample bound keeps the fit constant-cost regardless of
        table size — at 100 TB you fit on ~100k rows and assign the
        rest with one vectorized pass."""
        total = df.count()
        if total == 0:
            raise ValueError("cannot fit an IVF index on an empty relation")
        if sample_fraction is None:
            sample_fraction = min(1.0, max_sample / max(total, 1))
        sample = df.select(vec_col)
        if sample_fraction < 1.0:
            sample = sample.sample(sample_fraction, seed=seed)
        if method in ("cosine", "angular"):
            # cluster DIRECTIONS, not magnitudes: euclidean k-means on
            # raw vectors places centroids by magnitude, which the
            # cosine assignment then ignores — unbalanced cells and
            # degraded recall per probe (same handling as PqIndex.fit)
            nrm = F.sqrt(
                F.aggregate(
                    F.col(vec_col).cast("array<double>"),
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                )
            )
            sample = sample.select(
                F.when(
                    nrm == 0, F.col(vec_col).cast("array<double>")
                ).otherwise(
                    F.transform(
                        F.col(vec_col).cast("array<double>"), lambda x: x / nrm
                    )
                ).alias(vec_col)
            )

        try:
            from pyspark.ml.clustering import KMeans  # noqa: F401
            from pyspark.ml.functions import array_to_vector  # noqa: F401

            have_mllib = True
        except ImportError:  # narrow: only a missing MLlib routes to
            have_mllib = False  # the fallback; real fit errors surface
        if have_mllib:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            feats = sample.select(
                array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
            )
            km = KMeans(k=n_clusters, seed=seed, maxIter=max_iter)
            model = km.fit(feats)
            # clusterCenters() yields MLlib Vectors on some versions
            # and plain ndarrays on others (this AttributeError was
            # previously swallowed by a bare except that silently
            # rerouted EVERY fit to the driver-side fallback)
            centers = np.array([
                c.toArray() if hasattr(c, "toArray") else np.asarray(c)
                for c in model.clusterCenters()
            ])
        else:
            # fallback: driver-side lloyd iterations on the collected
            # sample (numpy) — same contract, no MLlib dependency
            mat = np.array(
                [list(r[0]) for r in sample.collect()], dtype=np.float64
            )
            if mat.size == 0:
                raise ValueError(
                    "cannot fit an IVF index: the sample is empty"
                )
            # collect order follows partition layout; sort so the
            # seeded init is independent of it (same fix as PqIndex.fit)
            mat = mat[np.lexsort(mat.T[::-1])]
            rng = np.random.default_rng(seed)
            centers = mat[rng.choice(len(mat), size=min(n_clusters, len(mat)), replace=False)]
            for _ in range(max_iter):
                d = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
                assign = d.argmin(axis=1)
                for c in range(len(centers)):
                    pts = mat[assign == c]
                    if len(pts):
                        centers[c] = pts.mean(axis=0)
        return cls(centers, method)

    # ---- assignment ----
    def _nearest_cells(self, mat: np.ndarray, n: int = 1) -> np.ndarray:
        """mat: B x D → B x n nearest centroid ids."""
        if self.method in ("cosine", "angular"):
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sim = (mat / norms) @ self._cmp_centers.T
            order = np.argsort(-sim, axis=1)
        else:
            d2 = (
                (mat * mat).sum(axis=1)[:, None]
                + (self._cmp_centers * self._cmp_centers).sum(axis=1)[None, :]
                - 2.0 * (mat @ self._cmp_centers.T)
            )
            order = np.argsort(d2, axis=1)
        return order[:, :n]

    def column_values(self, mat: np.ndarray) -> dict[str, np.ndarray]:
        """The ``ivf_cell`` of the rows of ``mat`` (N x D), computed on
        the driver: the values ``with_cells`` stores."""
        nearest = _make_nearest_fn(self._cmp_centers, self.method)
        return {"ivf_cell": nearest(mat).astype(np.int32)}

    def with_cells(self, df: DataFrame, vec_col: str = "vector") -> DataFrame:
        """Add the ``ivf_cell`` INT column, assigned on the executors by
        ``_make_nearest_fn`` in a ``mapInPandas`` pass (shipped by
        value, executors don't need this package). A list batch of
        ``Collection.add_documents`` gets the same cells on the driver
        instead (``column_values``)."""
        nearest = _make_nearest_fn(self._cmp_centers, self.method)

        if "ivf_cell" in df.columns:  # withColumn used to replace it
            df = df.drop("ivf_cell")
        # MapInPandas — a PLAN NODE, not a column expression, for the
        # same reason as with_cell_distances: a pandas-UDF COLUMN here
        # can be re-inlined by Catalyst/AQE into downstream contexts
        # that skip Python-UDF extraction (an inferred
        # isnotnull(join-key) filter pushed below the ArrowEvalPython;
        # the window exchange's hashpartitioning after AQE replan) and
        # dies with INTERNAL_ERROR "Cannot evaluate expression" at run
        # time — reproduced on Spark 4.1, session-order-dependent,
        # with an expression-backed vector column. The cell column is
        # a join/grouping key in semdedup, knn_join and the search
        # tiers, so the assignment must be structurally un-inlinable.
        out_schema = T.StructType(
            list(df.schema.fields) + [T.StructField("ivf_cell", T.IntegerType())]
        )

        def add_cells(batches):
            import pandas as pd

            for pdf in batches:
                pdf = pdf.copy()
                if len(pdf) == 0:
                    pdf["ivf_cell"] = pd.Series([], dtype="int32")
                else:
                    mat = np.array(
                        [list(v) for v in pdf[vec_col]], dtype=np.float64
                    )
                    pdf["ivf_cell"] = nearest(mat).astype("int32")
                yield pdf

        return df.mapInPandas(add_cells, schema=out_schema)

    def with_cell_distances(
        self, df: DataFrame, vec_col: str = "vector"
    ) -> DataFrame:
        """Add ``ivf_cell`` AND ``center_distance`` (the distance from
        the vector to its assigned center) in ONE vectorized pass — no
        centers join, so downstream plans never put the assignment UDF
        behind a join key (see the placement note on ``with_cells``).

        Bit-parity contract: the distance replicates the Catalyst
        fold exactly — a LEFT-TO-RIGHT accumulation over dimensions
        (``aggregate(zip_with(...))`` adds (a_j-b_j)² in index order),
        NOT numpy's pairwise-blocked ``sum``/matmul expansion — so a
        SQL oracle folding the same center literals hash-matches.
        Euclidean: sqrt(Σ(a_j-b_j)²); cosine/angular: acos(clamped
        cosΘ)/π with zero-vector → 1.0, matching
        functions.vector.cosine_distance."""
        centers = self._cmp_centers
        method = self.method
        nearest = _make_nearest_fn(centers, method)

        def score(mat):
            cells = nearest(mat)
            ctr = centers[cells]
            n = mat.shape[0]
            if method in ("cosine", "angular"):
                # left-to-right folds for dot and both norms, then the
                # same acos-clamp arithmetic as cosine_distance
                dot = np.zeros(n)
                na = np.zeros(n)
                nb = np.zeros(n)
                for j in range(mat.shape[1]):
                    dot = dot + mat[:, j] * ctr[:, j]
                    na = na + mat[:, j] * mat[:, j]
                    nb = nb + ctr[:, j] * ctr[:, j]
                na = np.sqrt(na)
                nb = np.sqrt(nb)
                dist = np.ones(n)
                ok = (na != 0) & (nb != 0)
                cosv = np.clip(dot[ok] / (na[ok] * nb[ok]), -1.0, 1.0)
                dist[ok] = np.arccos(cosv) / np.pi
            else:
                acc = np.zeros(n)
                for j in range(mat.shape[1]):
                    d = mat[:, j] - ctr[:, j]
                    acc = acc + d * d
                dist = np.sqrt(acc)
            return cells.astype("int32"), dist

        df = df.drop("ivf_cell", "center_distance")
        # mapInPandas — a PLAN NODE, not a column expression. A pandas
        # UDF column here can be re-inlined by AQE's logical
        # re-optimization into the downstream window's hashpartitioning
        # (which skips Python-UDF extraction → INTERNAL_ERROR "Cannot
        # evaluate expression" at shuffle time, reproduced on Spark 4.1
        # with an expression-backed vector column). A MapInPandas node
        # is structurally immune: nothing can collapse it into an
        # expression.
        out_schema = T.StructType(
            list(df.schema.fields)
            + [
                T.StructField("ivf_cell", T.IntegerType()),
                T.StructField("center_distance", T.DoubleType()),
            ]
        )

        def add_cd(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    pdf = pdf.copy()
                    pdf["ivf_cell"] = pd.Series([], dtype="int32")
                    pdf["center_distance"] = pd.Series([], dtype="float64")
                    yield pdf
                    continue
                mat = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
                cells, dist = score(mat)
                pdf = pdf.copy()
                pdf["ivf_cell"] = cells
                pdf["center_distance"] = dist
                yield pdf

        return df.mapInPandas(add_cd, schema=out_schema)

    # ---- search ----
    def probe_cells(self, vector: Sequence[float], n_probes: int) -> list[int]:
        return [
            int(c)
            for c in self._nearest_cells(
                np.asarray([vector], dtype=np.float64), n_probes
            )[0]
        ]

    def search(
        self,
        df: DataFrame,
        vector: Sequence[float],
        k: int,
        *,
        n_probes: int = 4,
        filter=None,
        vec_col: str = "vector",
        id_col: str = "id",
        observation: Observation | None = None,
    ) -> DataFrame:
        """Probe the ``n_probes`` nearest cells, exact re-rank, top-k.
        ``observation`` reports points_total / points_searched in the
        same pass (reference percent_searched, collection.go:700-709) —
        at the cost of scanning the ivf_cell column fully."""
        pred = self.cell_sql(vector, n_probes)
        if observation is not None:
            df = observe_searched(df, observation, pred)
        cand = df.where(pred)
        if filter is not None:
            cand = cand.where(filter)
        dist = query_distance_sql(vec_col, vector, self.method)
        return rank_by_distance(cand, dist, id_col, k)

    def cell_sql(self, vector: Sequence[float], n_probes: int) -> str:
        """``ivf_cell IN (the n_probes nearest cells)`` as SQL text."""
        cells = self.probe_cells(vector, n_probes)
        return f"ivf_cell IN ({', '.join(map(str, cells))})" if cells else "false"

    def knn_join(
        self,
        data: DataFrame,
        queries: DataFrame,
        k: int,
        *,
        n_probes: int = 4,
        data_vec: str = "vector",
        data_id: str = "id",
        query_vec: str = "query_vector",
        query_id: str = "query_id",
        observation: Observation | None = None,
    ) -> DataFrame:
        """Batch IVF KNN join. ``observation`` reports
        ``candidate_pairs`` (pairs exactly re-ranked; divide by
        |data|×|queries| for the batch percent_searched)."""
        if "ivf_cell" not in data.columns:
            data = self.with_cells(data, data_vec)
        centers = self._cmp_centers
        method = self.method
        nprobe = n_probes

        # self-contained closure (no class reference): executors never
        # need this package importable
        def probes(mat):
            if method in ("cosine", "angular"):
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                order = np.argsort(-((mat / norms) @ centers.T), axis=1)
            else:
                d2 = (
                    (mat * mat).sum(axis=1)[:, None]
                    + (centers * centers).sum(axis=1)[None, :]
                    - 2.0 * (mat @ centers.T)
                )
                order = np.argsort(d2, axis=1)
            return order[:, :nprobe]

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def probe_udf(vecs):
            import pandas as pd

            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            mat = np.array([list(v) for v in vecs], dtype=np.float64)
            return pd.Series([row.astype(int).tolist() for row in probes(mat)])

        # per-side norms precomputed before the pair join (cosine):
        # one fold per candidate pair instead of five — bit-identical
        # values (functions.vector.prenormed_pair_distance). The query
        # norm attaches BEFORE the probe explode (once per query, not
        # once per probe row).
        from syzgydb_spark.functions.vector import prenormed_pair_distance

        dside, qside, dist, _helpers = prenormed_pair_distance(
            data, queries, data_vec, query_vec, self.method
        )
        q = qside.withColumn("ivf_cell", F.explode(probe_udf(F.col(query_vec))))
        # no pair dedup needed (unlike the LSH join): each data row has
        # exactly ONE cell and a query's probe list is distinct, so a
        # (query, data) pair can match at most once — a dropDuplicates
        # here would be a logical no-op costing a full extra shuffle of
        # the widest (both-vectors) relation
        cand = dside.join(F.broadcast(q), on="ivf_cell")
        if observation is not None:
            cand = cand.observe(
                observation, F.count(F.lit(1)).alias("candidate_pairs")
            )
        ranked = cand.withColumn("distance", dist)
        w = Window.partitionBy(query_id).orderBy(F.col("distance").asc(), F.col(data_id).asc())
        return (
            ranked.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select(query_id, data_id, "distance")
        )

    # ---- persistence ----
    def to_dict(self) -> dict:
        return {"centers": self.centers.tolist(), "method": self.method}

    @classmethod
    def from_dict(cls, d: dict) -> "IvfIndex":
        return cls(np.asarray(d["centers"]), d["method"])
