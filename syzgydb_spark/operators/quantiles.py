"""Mergeable bounded quantile summaries — the distribution sibling of
the Misra-Gries counts sketch (operators/sketch.py).

A curation pipeline tracks DISTRIBUTIONS across crawl waves: document
length, quality score, perplexity. Spark's ``percentile_approx``
answers a one-shot query with a guaranteed-accuracy summary, but it
cannot be PERSISTED and folded incrementally — re-asking "how has the
length distribution drifted since wave 1" re-scans every wave. This
module keeps a bounded weighted-centroid summary per wave and folds
summaries, so the cross-wave question reads store-sized state only.

The summary is a streaming histogram (Ben-Haim & Tom-Toy, JMLR 2010:
"A streaming parallel decision tree algorithm", §2.1): at most
``capacity`` (value, weight) centroids, maintained by merging the
CLOSEST adjacent pair whenever the bound overflows. Merging two
summaries = concatenate, combine equal values, re-collapse — the same
operation, which is what makes it mergeable and what the persisted
store folds.

Honest accuracy statement (the MG stance: claim exactly what holds):

- **Exact regime**: while the merged DISTINCT value count stays
  ≤ capacity, no collapse ever fires and the summary IS the exact
  (value, count) histogram — quantiles are exact, and the DuckDB
  oracle checks the whole build → update → fold lifecycle
  bit-for-bit (``len_quantile_sketch``). Integer-ish pipeline signals
  (token counts, n_lines, quality flags) often live here outright.
- **Lossy regime**: centroid collapse is the Ben-Haim/Tom-Toy
  heuristic — strong in practice, property-tested here for rank error
  on uniform/skewed/adversarial streams, but WITHOUT a worst-case
  guarantee (unlike MG's N/(capacity+1) bound). When a single-shot
  guaranteed-ε answer is enough, use ``percentile_approx``; this
  store's niche is incremental cross-wave tracking, which
  ``percentile_approx`` cannot do without re-scanning.

Scale shape mirrors the MG sketch: one ``mapInPandas`` pass builds a
per-partition summary (state ≤ capacity centroids regardless of
partition size), the shuffle moves ≤ partitions × capacity rows, and
the final fold runs on ONE task over that bounded relation (explicit
``coalesce(1)`` — bounded input, never corpus-sized). The persisted
store is a delta store under the shared protocol
(``operators/maintenance.py``): one bounded delta per wave, compacted
under the manifest protocol like the MG store (summary addition is
not idempotent).

Reference scope note: the reference engine (smhanov/syzgydb) has no
aggregation surface beyond collection stats; this module is part of
the 100 TB pipeline extension (BASELINE.json north stars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .maintenance import (
    _batch_dir,
    _compact_manifested,
    _delta_token,
    _ensure_store,
    _read_deltas,
    _store_meta,
    live_mg_tokens,
    publish_parquet_atomically,
    write_store_meta,
)

_SCHEMA = "value double, weight long"


def _make_combiner():
    """Build the combine-and-collapse kernel as a NESTED closure so
    the pandas-UDF generators ship it by value (cloudpickle) —
    executors never import this package (the engine-wide executor
    contract; a module-level helper referenced from a UDF would pickle
    by reference and die with ModuleNotFoundError outside the repo)."""

    def _collapse(vals, wts, capacity):
        # merge closest adjacent pairs (weighted mean, summed weight)
        # until ≤ capacity centroids. Each pass merges up to the whole
        # excess at once — smallest gaps first, skipping conflicts (a
        # centroid joins at most one merge per pass) — so a wide Arrow
        # batch collapses in O(passes · n log n), not the textbook
        # one-pair-at-a-time O(n²). Deterministic: stable sort on gap
        # width → ties merge the leftmost pair; merged values sit
        # between their parents, so sortedness survives without a
        # re-sort.
        import numpy as np

        vals = np.asarray(vals, dtype=np.float64)
        wts = np.asarray(wts, dtype=np.int64)
        while len(vals) > capacity:
            need = len(vals) - capacity
            gaps = vals[1:] - vals[:-1]
            order = np.argsort(gaps, kind="stable")
            used = np.zeros(len(vals), dtype=bool)
            chosen = []
            for i in order:
                if used[i] or used[i + 1]:
                    continue
                chosen.append(i)
                used[i] = used[i + 1] = True
                if len(chosen) == need:
                    break
            chosen = np.sort(np.asarray(chosen, dtype=np.int64))
            w = wts[chosen] + wts[chosen + 1]
            v = (vals[chosen] * wts[chosen]
                 + vals[chosen + 1] * wts[chosen + 1]) / w
            vals[chosen] = v
            wts[chosen] = w
            keep = np.ones(len(vals), dtype=bool)
            keep[chosen + 1] = False
            vals = vals[keep]
            wts = wts[keep]
        return vals, wts

    def combine_sorted(vals, wts, capacity):
        # group duplicate values first (exact-regime preservation:
        # equal values always combine losslessly before any centroid
        # merge), then collapse to the bound
        import numpy as np

        order = np.argsort(vals, kind="stable")
        vals = np.asarray(vals, dtype=np.float64)[order]
        wts = np.asarray(wts, dtype=np.int64)[order]
        uniq, inv = np.unique(vals, return_inverse=True)
        agg = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(agg, inv, wts)
        return _collapse(uniq, agg, capacity)

    return combine_sorted


def _qs_partials(df: DataFrame, value: Column, capacity: int) -> DataFrame:
    """Per-partition summaries: ≤ capacity (value, weight) rows per
    task, state carried across Arrow batches inside the generator —
    the _mg_partials shape for ordered data."""
    src = df.select(value.cast("double").alias("value")).where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    combine = _make_combiner()

    def gen(batches):
        import numpy as np
        import pandas as pd

        vals = np.empty(0)
        wts = np.empty(0, dtype=np.int64)
        for pdf in batches:
            # each batch's exact value_counts is itself a zero-error
            # summary; merge it in (the vectorized-MG lesson — C-speed
            # group-then-collapse, never item-at-a-time)
            vc = pdf["value"].value_counts()
            vals = np.concatenate([vals, vc.index.to_numpy(np.float64)])
            wts = np.concatenate([wts, vc.to_numpy(np.int64)])
            vals, wts = combine(vals, wts, capacity)
        yield pd.DataFrame({"value": vals, "weight": wts})

    return src.mapInPandas(gen, _SCHEMA)


def _qs_fold(partials: DataFrame, capacity: int) -> DataFrame:
    """Merge summaries: one task over the BOUNDED partial relation
    (≤ summaries × capacity rows — coalesce(1) is safe by
    construction, never corpus-sized)."""
    combine = _make_combiner()

    def fold(batches):
        import numpy as np
        import pandas as pd

        vals = np.empty(0)
        wts = np.empty(0, dtype=np.int64)
        for pdf in batches:
            vals = np.concatenate([vals, pdf["value"].to_numpy(np.float64)])
            wts = np.concatenate([wts, pdf["weight"].to_numpy(np.int64)])
        vals, wts = combine(vals, wts, capacity)
        yield pd.DataFrame({"value": vals, "weight": wts})

    return partials.coalesce(1).mapInPandas(fold, _SCHEMA)


def quantile_sketch(
    df: DataFrame, value: Column | str, capacity: int = 256
) -> DataFrame:
    """One-pass bounded distribution summary of ``value``:
    ``(value, weight)`` centroids, ≤ ``capacity`` rows, sorted by
    value. EXACT (weight = true count per distinct value) while the
    distinct count fits the capacity; Ben-Haim/Tom-Toy centroid
    collapse beyond. NULL/NaN values are ignored."""
    if capacity < 2:
        raise ValueError("capacity must be >= 2")
    value = F.col(value) if isinstance(value, str) else value
    return _qs_fold(_qs_partials(df, value, capacity), capacity).orderBy("value")


def sketch_quantiles(summary: DataFrame, qs: list[float]) -> DataFrame:
    """Quantiles from a summary: for each q the smallest centroid
    value whose cumulative weight reaches ``ceil(q * N)`` (the lower
    weighted quantile — in the exact regime this is precisely the
    classic lower quantile of the data, which the DuckDB oracle
    replays with a window cumsum). Returns ``(q, value)``."""
    from pyspark.sql import Window

    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError("quantiles must be in (0, 1]")
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = summary.select(
        "value", F.sum("weight").over(w).alias("cw"),
        F.sum("weight").over(Window.partitionBy()).alias("n"),
    )
    # qs is a driver-side list — fold it into ONE conditional
    # aggregation per q and unpivot, rather than a non-equi join
    # (which would plan a BroadcastNestedLoopJoin; bounded here, but
    # the engine-wide no-cartesian plan gate stays absolute)
    # rank = ceil(q*n) with a tolerance: double rounding can push a
    # mathematically-integer q*n just above the integer (0.07*100 →
    # 7.000000000000001 → ceil 8), returning one order statistic too
    # high; subtracting 1e-9 keeps the classic lower quantile for all
    # (q, n) while never crossing a true non-integer boundary (which
    # is ≥ 1/n > 1e-9 away for any n this engine can hold)
    aggs = [
        F.min(
            F.when(
                F.col("cw")
                >= F.ceil(F.lit(float(q)) * F.col("n") - F.lit(1e-9)),
                F.col("value"),
            )
        ).alias(f"_q{i}")
        for i, q in enumerate(qs)
    ]
    pairs = ", ".join(
        f"CAST({float(q)} AS DOUBLE), _q{i}" for i, q in enumerate(qs)
    )
    return (
        cum.agg(*aggs)
        .selectExpr(f"stack({len(qs)}, {pairs}) AS (q, value)")
        .orderBy("q")
    )


# ---- persisted mergeable store (cross-wave distribution tracking) ----


def _write_qs_batch(df, value, path, capacity, *, token):
    # rename-committed so a concurrent reader/compactor never folds a
    # half-written delta (Spark's plain write creates the dir early)
    publish_parquet_atomically(quantile_sketch(df, value, capacity),
                               _batch_dir(path, token))


def build_quantile_store(
    df: DataFrame, value: Column | str, path: str, *, capacity: int = 256
) -> None:
    """Create a persisted distribution store from the first wave. The
    capacity is an enforced sidecar parameter (the Bloom/MG stance):
    updates and reads take it from the store, so summaries of
    different widths can never fold together."""
    _write_qs_batch(df, value, path, capacity, token="0")
    write_store_meta(df.sparkSession, path,
                     {"capacity": capacity, "kind": "bht-histogram"})


def ensure_quantile_store(spark, path: str, capacity: int) -> None:
    """Create the parameter sidecar if the store doesn't exist yet;
    validate ``capacity`` against it if it does (summaries of
    different widths must never fold together). The lazy-init entry
    point for streaming sinks, whose first batch IS the build — the
    ``ensure_mg_store`` contract."""
    _ensure_store(spark, path, capacity, "bht-histogram")


def update_quantile_store(
    df: DataFrame, value: Column | str, path: str, *, token: str | None = None
) -> None:
    """Fold a new wave in as its own bounded delta. Summary addition
    is NOT idempotent (the MG situation, not the Bloom one): replaying
    a wave under a fresh token would double-weight it, so callers with
    a replay source must pass a STABLE ``token`` — the delta dir is
    overwritten in place and a replay converges. The default uuid
    token is for ad-hoc single-shot updates, where it also keeps
    concurrent updaters from clobbering each other.

    A caller-supplied token that a compaction manifest has already
    superseded is REJECTED (see ``maintenance._delta_token``): a
    stream restarted with a fresh checkpoint restarts batch ids at 0,
    and writing new data under a compacted token would be silently
    excluded from every fold. New checkpoint → new namespace."""
    spark = df.sparkSession
    cap = _store_meta(spark, path)["capacity"]
    _write_qs_batch(df, value, path, cap, token=_delta_token(spark, path, token))


def read_quantile_store(spark, path: str) -> DataFrame:
    """The folded live summary: one mergeable fold over the LIVE
    deltas (superseded-token manifests honored — see
    :func:`compact_quantile_store`), each ≤ capacity rows."""
    cap = _store_meta(spark, path)["capacity"]
    deltas = _read_deltas(spark, path, live_mg_tokens(spark, path), _SCHEMA)
    return _qs_fold(deltas, cap).orderBy("value")


def compact_quantile_store(spark, path: str) -> int:
    """Fold all live deltas into one manifest-carrying delta — the MG
    compaction protocol (``maintenance._compact_manifested``):
    summary addition is not idempotent, so the compacted dir's
    ``_sources.json`` supersedes its inputs transitively; crashed
    deletes and replayed stable tokens are provably excluded, and a
    concurrent update landing mid-compaction stays live. Returns the
    number of deltas folded (0 if ≤ 1 live)."""
    return _compact_manifested(spark, path, _SCHEMA, _qs_fold)
