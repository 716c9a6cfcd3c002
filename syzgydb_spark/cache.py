"""Cache-lifecycle handles for operators that persist intermediates.

Several operators (MinHash/SimHash near-dup, n-gram Jaccard pairs,
span dedup, BM25 scoring, the LM fits) lazily ``persist()`` an
intermediate relation that multiple branches of the returned plan
consume — without it, each consumer re-runs the full corpus lineage
(ReuseExchange does not fire across aliased branches). The persisted
block lives until Spark's LRU evicts it, which is fine for one-shot
jobs but pins corpus-token-sized relations for the session lifetime
in serving loops (per-query ``bm25_score``, per-slice LM fits).

These helpers make the lifecycle explicit: every such operator
attaches its persisted intermediates to the DataFrame it returns, and
a caller that is done with the result releases them:

    pairs = ngram_jaccard_pairs(docs)
    pairs.write.parquet(out)
    release_cached(pairs)          # drops the posting-list cache

Model relations that are THEMSELVES the returned, persisted DataFrame
(``unigram_lm``, ``bigram_lm``) carry their own handle too, so
``release_cached(model)`` and ``model.unpersist()`` are equivalent.
``release_cached`` is always safe to call: a DataFrame with no
attached handles is a no-op, and releasing twice is idempotent.

Release aliasing: Spark's CacheManager keys entries by plan
(``sameResult``), not by DataFrame object. Two fits of one plan (the
same reference corpus and parameters) return distinct DataFrames that
share ONE cache entry, so releasing either drops it for both. The
other result stays valid (it recomputes from lineage), but its reads
are no longer cached and the next eager fit of that plan runs the fill
job again. Release a shared model once, after its last consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_syzgy_persisted"


def own_cached(result: DataFrame, *rels: DataFrame) -> DataFrame:
    """Attach persisted intermediate relations to an operator's result
    (internal — operators call this at their return point). Existing
    handles are kept, so wrappers compose."""
    rels = tuple(r for r in rels if r is not None)
    prev = tuple(getattr(result, _ATTR, ()))
    setattr(result, _ATTR, prev + rels)
    return result


def plan_already_cached(df: DataFrame) -> bool:
    """True when the CacheManager holds a ``sameResult`` entry for
    ``df``'s plan AND every partition of that entry is materialized —
    i.e. a ``persist()`` on it would attach to an existing, filled
    cached relation. Used by eager model fits to skip the fill-forcing
    action when an identical model is already session-cached (fit
    once, score many): the count job over the cached blocks is pure
    per-call overhead there. A registered but unfilled entry (an
    ``eager=False`` fit nobody has scored yet, or blocks evicted since)
    is False, so an eager fit still fills it. Conservative ``False`` on
    any reflection failure."""
    try:
        jss = df.sparkSession._jsparkSession
        entry = jss.sharedState().cacheManager().lookupCachedData(df._jdf)
        if not entry.isDefined():
            return False
        builder = entry.get().cachedRepresentation().cacheBuilder()
        return bool(builder.isCachedColumnBuffersLoaded())
    except Exception:
        return False


def carry_cached(result: DataFrame, *srcs: DataFrame) -> DataFrame:
    """Propagate the handles attached to ``srcs`` onto ``result``.

    Handles live on the DataFrame *object*, so any wrapper that
    projects an operator's result (a registry entry's final
    ``.select``, a caller's ``withColumn``) returns a NEW object and
    strands them — ``release_cached`` on the projection would silently
    no-op and the intermediate would stay pinned until LRU eviction.
    Wrappers call this at their return point:

        res = duplicate_spans(docs)
        return carry_cached(res.select(...), res)
    """
    rels: list[DataFrame] = []
    for s in srcs:
        rels.extend(getattr(s, _ATTR, ()))
    return own_cached(result, *rels)


def release_cached(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist every cached intermediate the operator that produced
    ``df`` attached to it. Call once the result has been fully
    consumed (written out / collected); the returned DataFrame remains
    valid afterwards — persist keeps lineage, so a re-execution simply
    recomputes. Returns the number of relations released."""
    rels = tuple(getattr(df, _ATTR, ()))
    for rel in rels:
        rel.unpersist(blocking)
    setattr(df, _ATTR, ())
    return len(rels)
