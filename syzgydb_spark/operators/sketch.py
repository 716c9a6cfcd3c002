"""Misra-Gries frequent-items sketches — bounded-memory heavy hitters.

The exact per-key rollups elsewhere in this engine (``skew.salted_topk``,
``quality.tfidf_top_terms``) shuffle one (term, count) row per DISTINCT
term; at 100 TB the distinct-term relation itself can be enormous
(URLs, shingles, user ids). The Misra-Gries summary (Misra & Gries
1982) answers "what are the hot items" in ONE pass with HARD bounded
state: at most ``capacity`` counters per task, and for every item

    true_count - N / (capacity + 1)  <=  estimate  <=  true_count

where N is the stream length. Summaries are MERGEABLE with the same
guarantee (Agarwal et al., "Mergeable Summaries", PODS 2012): add
counters, then subtract the (capacity+1)-th largest and drop the
non-positives — which is exactly how both the partition merge and the
persisted store below fold.

Scale shape: one ``mapInPandas`` pass builds a per-PARTITION sketch
(state ≤ capacity entries regardless of partition size — the generator
carries it across Arrow batches), so the only shuffle moves at most
``partitions × capacity`` rows into one bounded merge. Nothing
corpus-sized is ever grouped. When ``capacity`` ≥ the true distinct
count nothing ever decrements and the result is EXACT with
``err_bound`` 0 — the regime the DuckDB oracle checks bit-for-bit;
the lossy regime is covered by the guarantee tests.

The persisted store is a delta store under the shared protocol
(``operators/maintenance.py``): each batch appends its own bounded
sketch as a delta, and the read side folds the live deltas with the
mergeable-summaries rule — a crawl wave's hot-item tracking never
re-scans earlier waves.

Reference scope note: the reference engine (smhanov/syzgydb) has no
aggregation beyond collection stats; this module is part of the
100 TB pipeline extension surface (BASELINE.json north stars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .maintenance import (
    _batch_dir,
    _delta_token,
    _ensure_store,
    _read_deltas,
    _store_meta,
    live_mg_tokens,
    publish_parquet_atomically,
    write_store_meta,
)


def _mg_partials(df: DataFrame, term: Column, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries summaries: ``(term, est, dec)`` rows,
    at most ``capacity`` terms per partition plus one NULL-term row
    carrying the partition's total decrement (its undercount bound).
    State lives in the mapInPandas generator across Arrow batches —
    never more than ``capacity`` dict entries per task."""
    src = df.select(term.cast("string").alias("term")).where(
        F.col("term").isNotNull()
    )

    def gen(batches):
        import heapq

        import pandas as pd

        # vectorized MG: each Arrow batch's EXACT value_counts is
        # itself a zero-error summary, merged into the running sketch
        # with the PODS-2012 rule (add; if over capacity, subtract the
        # (capacity+1)-th largest and drop non-positives). Merging
        # preserves the N/(capacity+1) total-error bound (Agarwal et
        # al. §3), and value_counts is C-speed where the textbook
        # item-at-a-time loop was the wall-clock bottleneck (3x slower
        # than the exact JVM rollup at 20M rows; measured,
        # tools/bench_sketch.py).
        sketch: dict[str, int] = {}
        decremented = 0
        for pdf in batches:
            for t, c in pdf["term"].value_counts().items():
                sketch[t] = sketch.get(t, 0) + int(c)
            if len(sketch) > capacity:
                cut = heapq.nlargest(capacity + 1, sketch.values())[-1]
                decremented += cut
                sketch = {t: c - cut for t, c in sketch.items() if c > cut}
        rows = [(t, c, 0) for t, c in sketch.items()]
        rows.append((None, 0, decremented))
        yield pd.DataFrame(rows, columns=["term", "est", "dec"])

    return src.mapInPandas(gen, "term string, est long, dec long")


def _mg_fold(
    partials: DataFrame, capacity: int, *, with_bound: bool = False
):
    """Merge MG summaries (PODS-2012 rule): sum per-term estimates,
    then subtract the (capacity+1)-th largest merged estimate (0 when
    ≤ capacity terms survive) and drop non-positives. The input is
    BOUNDED (≤ summaries × capacity rows), so the rank step is a
    window over a small relation, not a corpus sort. Returns
    ``(term, est_count, err_bound)`` — err_bound is the same global
    value on every row: est ≤ true ≤ est + err_bound. The
    (capacity+1)-th largest is found with TakeOrdered over the bounded
    merge, never a global sort or corpus-wide window.

    With ``with_bound=True`` also returns a 1-row ``(err_bound)``
    DataFrame computed from the fold's own scalars (dec_total + cut),
    which exists EVEN WHEN no term survives the cut — aggregating the
    possibly-empty folded relation instead would under-report the
    bound as 0 (the compaction-carrier bug the r7 advice flagged)."""
    merged = (
        partials.where(F.col("term").isNotNull())
        .groupBy("term").agg(F.sum("est").alias("est"))
    )
    dec_total = partials.agg(
        F.coalesce(F.sum("dec"), F.lit(0)).alias("dec_total"))
    cut = (
        merged.orderBy(F.col("est").desc(), "term").limit(capacity + 1)
        .agg(
            F.coalesce(
                F.when(F.count("*") == capacity + 1, F.min("est")),
                F.lit(0),
            ).alias("cut")
        )
    )
    folded = (
        merged.crossJoin(F.broadcast(cut))
        .crossJoin(F.broadcast(dec_total))
        .where(F.col("est") - F.col("cut") > 0)
        .select(
            "term",
            (F.col("est") - F.col("cut")).alias("est_count"),
            (F.col("dec_total") + F.col("cut")).alias("err_bound"),
        )
    )
    if not with_bound:
        return folded
    bound = cut.crossJoin(F.broadcast(dec_total)).select(
        (F.col("dec_total") + F.col("cut")).cast("long").alias("err_bound")
    )
    return folded, bound


def frequent_terms(
    df: DataFrame, term: Column | str, capacity: int = 1024
) -> DataFrame:
    """One-pass bounded-memory heavy hitters over ``term``:
    ``(term, est_count, err_bound)`` with ≤ ``capacity`` rows and
    ``est_count ≤ true_count ≤ est_count + err_bound`` (err_bound ≤
    N / (capacity + 1); 0 — exact — whenever the true distinct count
    fits in ``capacity``). NULL terms are ignored. Every item with
    true_count > N / (capacity + 1) is guaranteed present."""
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    term = F.col(term) if isinstance(term, str) else term
    return _mg_fold(_mg_partials(df, term, capacity), capacity)


# ---- persisted mergeable store (incremental crawl-wave tracking) ----

# a delta: one batch's folded summary plus a NULL-term err_bound carrier
_SCHEMA = "term STRING, est_count BIGINT, err_bound BIGINT"


def _mg_summary(partials: DataFrame, capacity: int) -> DataFrame:
    """Fold ``(term, est, dec)`` summaries into one delta: the folded
    terms plus a NULL-term carrier row holding the fold's err_bound
    (the fold reads ``dec`` only from NULL-term rows, ``est`` only
    from real terms). The bound comes from the fold's dec_total + cut
    SCALARS, which exist even when every merged estimate falls at or
    below the cut and the folded relation is empty — max(err_bound)
    over the folded rows records 0 there (e.g. capacity=2, a batch of
    4 singleton terms folds to nothing), and every cut term would then
    violate est ≤ true ≤ est + err_bound on read."""
    out, bound = _mg_fold(partials, capacity, with_bound=True)
    carrier = bound.select(
        F.lit(None).cast("string").alias("term"),
        F.lit(0).cast("long").alias("est_count"),
        F.col("err_bound"),
    )
    return out.unionByName(carrier)


def _mg_deltas(deltas: DataFrame) -> DataFrame:
    """Stored deltas as fold input ``(term, est, dec)``: per-delta
    err_bound is carried on that delta's NULL-term row only, so the
    fold never multiplies a delta's bound by its row count."""
    return deltas.select(
        "term",
        F.when(F.col("term").isNotNull(), F.col("est_count"))
        .otherwise(F.lit(0)).alias("est"),
        F.when(F.col("term").isNull(), F.col("err_bound"))
        .otherwise(F.lit(0)).alias("dec"),
    )


def _write_mg_batch(df, term, path, capacity, *, token):
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    term = F.col(term) if isinstance(term, str) else term
    # rename-committed so a concurrent reader/compactor never folds a
    # half-written delta (Spark's plain write creates the dir early)
    publish_parquet_atomically(
        _mg_summary(_mg_partials(df, term, capacity), capacity),
        _batch_dir(path, token))


def build_mg_store(
    df: DataFrame, term: Column | str, path: str, *, capacity: int = 1024
) -> None:
    """Create a persisted frequent-items store from the first batch.
    The capacity is an enforced sidecar parameter (the Bloom-store
    stance): updates and reads take it from the store, so folds can
    never mix summaries of different widths."""
    _write_mg_batch(df, term, path, capacity, token="0")
    write_store_meta(df.sparkSession, path,
                     {"capacity": capacity, "kind": "misra-gries"})


def ensure_mg_store(spark, path: str, capacity: int) -> None:
    """Create the parameter sidecar if the store doesn't exist yet;
    validate ``capacity`` against it if it does (summaries of
    different widths must never fold together). The lazy-init entry
    point for streaming sinks, whose first batch IS the build."""
    _ensure_store(spark, path, capacity, "misra-gries")


def update_mg_store(
    df: DataFrame, term: Column | str, path: str, *, token: str | None = None
) -> None:
    """Fold a new batch in: writes ONLY the batch's own bounded sketch
    as a new delta — prior deltas are never rewritten. Unlike the
    Bloom store's OR, summing summaries is NOT idempotent: replaying
    a batch under a fresh token would double-count it. Callers with a
    replay source (streaming epochs, retried jobs) must pass a STABLE
    ``token`` — the delta dir is overwritten in place, so a replay
    converges to the same state. The default uuid token is for ad-hoc
    single-shot updates, where it also keeps concurrent updaters from
    clobbering each other.

    A caller-supplied token that a compaction manifest has already
    SUPERSEDED is rejected: writing under it would be silently
    excluded from every fold (the store treats it as a replay of the
    compacted batch). This is the checkpoint-reset trap — a stream
    restarted with a fresh checkpoint restarts batch ids at 0 and
    would reuse compacted ``<namespace>-0..N`` tokens for genuinely
    new data. Use a new namespace for a new checkpoint."""
    spark = df.sparkSession
    cap = _store_meta(spark, path)["capacity"]
    _write_mg_batch(df, term, path, cap, token=_delta_token(spark, path, token))


def read_mg_store(spark, path: str) -> DataFrame:
    """The folded live summary ``(term, est_count, err_bound)``: one
    mergeable-summaries fold over the LIVE batch deltas (each ≤
    capacity rows — the scan is store-sized, never corpus-sized).
    Live = every ``batch=`` dir minus tokens a compacted delta's
    manifest supersedes (see ``maintenance.compact_mg_store`` — sum
    folds are not idempotent, so a compacted batch's counts must
    never be folded a second time, even if a streaming replay
    rewrites its directory)."""
    cap = _store_meta(spark, path)["capacity"]
    deltas = _read_deltas(spark, path, live_mg_tokens(spark, path), _SCHEMA)
    return _mg_fold(_mg_deltas(deltas), cap)
