"""Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540).

Embedding-space dedup for training corpora: cluster the embeddings with
a k-means coarse quantizer, then — within each cluster only — drop every
document whose cosine similarity to a *prior* cluster member exceeds a
threshold ``tau``. "Prior" follows the paper's keep-rule: cluster
members are ordered by similarity-to-centroid ASCENDING, and each
member is compared against the members before it, so within any group
of mutual near-duplicates exactly the FIRST member in that order — the
one farthest from the centroid — survives. The paper found keeping
these low-centroid-similarity examples performs best (§4.3).

Spark shape (all shuffles are on the INT cell key):

* assignment is a vectorized map (``IvfIndex.with_cells`` — no shuffle);
* the per-cluster rank is a window partitioned by cell, whose partitions
  are cluster-sized by construction;
* the pairwise pass is a cell equi-join with ``rank_left < rank_right``
  — per-cluster O(n_c²), the same cost the paper pays, NEVER a global
  cross product.

100 TB contract: the quadratic term is bounded by the largest cluster,
so ``n_clusters`` must scale with the corpus (the paper uses ~√N-sized
cluster counts; at 100 TB fit ~100k centers on a bounded sample — the
fit cost is constant, see IvfIndex.fit). Cluster sizes are observable
via ``cluster_sizes`` before committing to the quadratic pass.

The whole pipeline — argmin assignment, centroid ordering, pair
similarity — is deterministic given the centers, so persisted-center
fixtures replay bit-for-bit in the DuckDB oracle (the IVF/PQ
center-literal trick, __spark_entry__.py).

The reference has no semantic dedup (its surface is single-collection
vector search, /root/reference/collection.go); this is part of the
north-star training-data pipeline extension.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from syzgydb_spark.functions.vector import dot_product, l2_normalize
from syzgydb_spark.operators.ivf import IvfIndex


def _centers_df(df: DataFrame, index: IvfIndex) -> DataFrame:
    """The fitted centers as a (cell, center ARRAY<DOUBLE>) relation —
    broadcast-sized by construction (n_clusters rows)."""
    spark = df.sparkSession
    rows = [(int(cid), [float(x) for x in c]) for cid, c in enumerate(index.centers)]
    return spark.createDataFrame(rows, "cell INT, center ARRAY<DOUBLE>")


def cluster_sizes(
    df: DataFrame,
    index: IvfIndex,
    *,
    vec_col: str = "vector",
) -> DataFrame:
    """Per-cluster member counts — the pre-flight check before the
    quadratic within-cluster pass (one hash agg on an INT key)."""
    return (
        index.with_cells(df, vec_col=vec_col)
        .groupBy(F.col("ivf_cell").alias("cell"))
        .agg(F.count("*").alias("n_members"))
    )


def semdedup(
    df: DataFrame,
    index: IvfIndex,
    *,
    id_col: str = "id",
    vec_col: str = "vector",
    tau: float = 0.95,
    order_decimals: int | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """Per-document SemDeDup decision.

    Returns ``(id, cell, rank, max_prior_sim, kept)``: ``rank`` is the
    1-based position in the cluster's centroid-similarity-ascending
    order (ties broken by id ascending), ``max_prior_sim`` the highest
    cosine similarity to any lower-ranked member (NULL for the cluster
    head), and ``kept = max_prior_sim < tau`` (head always kept).
    ``df.where(kept)`` is the deduplicated corpus.

    ``order_decimals`` rounds the centroid similarity used for the rank
    ORDER (not the pair similarities) so an engine summing the dot
    product in a different association order — e.g. the DuckDB oracle —
    ranks identically despite last-bit float drift.

    ``impl='arrow'`` (default) fuses the whole per-cluster pass —
    normalization, centroid ordering, and the prior-max via ONE BLAS
    gram matrix — into a single ``applyInPandas`` kernel per cell (the
    per-block kernel family of ``dedup.blocked_cosine_pairs``): one
    shuffle on the INT cell key, no window, no pair join.
    ``impl='expr'`` keeps the pure-Catalyst window + pair join as the
    conformance/oracle reference; both agree to float drift (last bit
    of a 64-term dot product).
    """
    if impl == "arrow":
        cn = np.asarray(index.centers, dtype=np.float64)
        norms = np.linalg.norm(cn, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cn = cn / norms
        dec = order_decimals
        tau_f = float(tau)

        def _cell_kernel(key, pdf):
            import numpy as np
            import pandas as pd

            v = np.array(pdf["vector"].tolist(), dtype=np.float64)
            vn = np.linalg.norm(v, axis=1, keepdims=True)
            safe = np.where(vn == 0, 1.0, vn)
            nv = np.where(vn == 0, v, v / safe)
            csim = nv @ cn[int(key[0])]
            # HALF_UP (away from zero), matching Spark's F.round and
            # DuckDB's round — np.round is half-to-even, which would
            # rank a similarity landing exactly on a representable half
            # differently from the expr impl and the oracle
            if dec is not None:
                scale = 10.0 ** dec
                okey = np.sign(csim) * np.floor(np.abs(csim) * scale + 0.5) / scale
            else:
                okey = csim
            order = np.lexsort((pdf["id"].values, okey))
            nv, ids = nv[order], pdf["id"].values[order]
            g = nv @ nv.T
            n = len(ids)
            prior = np.full(n, np.nan)
            for i in range(1, n):
                prior[i] = g[i, :i].max()
            kept = ~(prior >= tau_f)  # NaN (head) -> kept
            return pd.DataFrame(
                {
                    "id": ids,
                    "cell": np.full(n, int(key[0]), dtype=np.int64),
                    "rank": np.arange(1, n + 1, dtype=np.int64),
                    "max_prior_sim": prior,
                    "kept": kept,
                }
            )

        return (
            index.with_cells(df, vec_col=vec_col)
            .select(
                F.col(id_col).alias("id"),
                F.col("ivf_cell").alias("cell"),
                F.col(vec_col).cast("array<double>").alias("vector"),
            )
            .groupBy("cell")
            .applyInPandas(
                _cell_kernel,
                "id LONG, cell INT, rank INT, max_prior_sim DOUBLE, kept BOOLEAN",
            )
        )

    centers = _centers_df(df, index)

    assigned = (
        index.with_cells(df, vec_col=vec_col)
        .select(
            F.col(id_col).alias("id"),
            F.col("ivf_cell").alias("cell"),
            l2_normalize(vec_col).alias("nv"),
        )
        .join(F.broadcast(centers), "cell")
        # cosine similarity to the centroid: dot of unit vectors
        .withColumn("centroid_sim", dot_product("nv", l2_normalize("center")))
        .drop("center")
    )

    order_key = F.col("centroid_sim")
    if order_decimals is not None:
        order_key = F.round(order_key, order_decimals)
    w = Window.partitionBy("cell").orderBy(order_key.asc(), F.asc("id"))
    ranked = assigned.withColumn("rank", F.row_number().over(w))

    left = ranked.select(
        F.col("cell"), F.col("rank").alias("lrank"), F.col("nv").alias("lnv")
    )
    right = ranked.select("id", "cell", "rank", "nv")
    prior = (
        right.join(left, "cell")
        .where(F.col("lrank") < F.col("rank"))
        .groupBy("id")
        .agg(F.max(dot_product("nv", "lnv")).alias("max_prior_sim"))
    )

    return (
        ranked.join(prior, "id", "left")
        .select(
            "id",
            "cell",
            "rank",
            "max_prior_sim",
            (F.coalesce(F.col("max_prior_sim") < F.lit(float(tau)), F.lit(True))).alias(
                "kept"
            ),
        )
    )


def cluster_balanced_sample(
    df: DataFrame,
    index: IvfIndex,
    k: int,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    seed: int = 42,
    oversample: float = 4.0,
) -> DataFrame:
    """Exactly ``k`` rows per EMBEDDING CLUSTER (IVF cell): the
    diversity-preserving sampling a curated pretraining mix uses when
    the strata are semantic rather than catalog columns (cluster-
    balanced subsetting — the selection shape used alongside SemDeDup,
    Abbas et al. 2023 §5; Tirumala et al. 2023's D4 samples in the
    same cluster space). Vectors are assigned to their nearest center
    (vectorized argmin, the same ``with_cells`` kernel the ANN index
    uses), then the two-phase exact-k design runs per cell: counts →
    md5-fraction candidate filter → bounded rank window — no cell is
    ever sorted whole (see ``stratified_fixed_sample``'s scale note).

    Returns the input rows plus ``ivf_cell`` and ``sample_rank``
    (1..k within the cell). Deterministic given the fitted centers and
    seed; engine-portable, so a SQL oracle reproduces the exact rows.

    ``df`` must be deterministic: re-evaluating it must yield the same
    rows (Spark's own contract for recomputed stages). The cell
    assignment is persisted, not checkpointed, so an evicted or lost
    block is recomputed from ``df``; an input built on ``rand()`` or a
    fresh ``sample()`` could then feed the per-cell counts and the
    candidate join different rows and break the exactly-k guarantee.
    Snapshot such an input (write it out, or ``localCheckpoint()``)
    before calling."""
    from pyspark.storagelevel import StorageLevel

    from syzgydb_spark.cache import own_cached
    from syzgydb_spark.operators.quality import stratified_fixed_sample

    # the fixed-sample design consumes its input twice (per-cell
    # counts + the candidate join); a lazy persist materializes the
    # assignment once, so the nearest-center matmul — the dominant
    # cost — never runs a second time over the corpus. persist, NOT
    # localCheckpoint: this relation is CORPUS-sized, and the whole
    # lineage (fitted centers + argmin kernel + md5-fraction sampling)
    # is deterministic, so a lost executor recomputes its blocks
    # instead of failing the query. Caller owns the cache
    # (release_cached on the result), the house convention.
    assigned = index.with_cells(df, vector_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return own_cached(
        stratified_fixed_sample(
            assigned,
            k,
            strata_col="ivf_cell",
            id_col=id_col,
            seed=seed,
            oversample=oversample,
        ),
        assigned,
    )


def embedding_outliers(
    df: DataFrame,
    index: IvfIndex,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    trim_fraction: float = 0.05,
    decimals: int = 9,
) -> DataFrame:
    """Centroid-distance outlier scoring for embedding curation: each
    vector is assigned to its nearest fitted center (the same argmin
    kernel the ANN index uses), scored by its distance to that center,
    and ranked WITHIN its cell by ``percent_rank``; the top
    ``trim_fraction`` of each cell — the points farthest from their
    own centroid — are flagged ``is_outlier``. This is the standard
    "prune the fringe of each semantic cluster" curation filter (the
    distance-based half of D4's diversify step, Tirumala et al. 2023;
    SemDeDup prunes the dense core, this prunes the stray tail — the
    two compose).

    Scale shape: assignment is a vectorized map (no shuffle), the
    centers join is broadcast (n_clusters rows), and the only shuffle
    is the per-cell window — partitions are cluster-sized, identical
    to the ``semdedup`` contract, but the pass is O(n_c log n_c), not
    quadratic. Per-cell rank is preferable to a global distance cutoff
    because cluster radii differ by an order of magnitude in real
    corpora; ``percent_rank`` (an exact integer ratio) rather than a
    mean/std z-score keeps the decision aggregation-order-free, so a
    SQL oracle replays it bit-for-bit.

    Returns ``(id_col, cell, distance, pr, is_outlier)``; distance is
    rounded to ``decimals`` BEFORE ranking so the sort key itself is
    engine-portable. Deterministic tie-break on ``id_col``.

    The reference has no curation surface (vector search only,
    /root/reference/collection.go); north-star pipeline extension.

    Join-free by design: assignment and distance come from ONE
    vectorized pass (``IvfIndex.with_cell_distances``, bit-parity
    with the Catalyst distance fold), so the plan is map → window —
    no centers join, and the assignment UDF can never be relocated
    behind a join key by the optimizer (which crashes on Spark 4.1
    when the vector column is itself an expression, e.g. a
    ``hashed_embedding`` over text — see with_cells' placement note).
    """
    threshold = 1.0 - float(trim_fraction)
    assigned = index.with_cell_distances(df, vec_col=vector_col)
    w = Window.partitionBy("cell").orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn(
            "distance", F.round(F.col("center_distance"), decimals)
        )
        .select(id_col, F.col("ivf_cell").cast("long").alias("cell"), "distance")
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn("is_outlier", F.col("pr") > F.lit(threshold))
    )
