"""Bloom-filter membership — the zero-corpus-shuffle dedup probe.

At 100 TB the standing corpus cannot move at probe time: joining a new
batch against a multi-billion-row fingerprint relation shuffles the
batch AND touches the store's buckets. A Bloom filter inverts the
cost: the corpus is folded ONCE into an ``n_bits``-wide bitmap
(``n_bits/64`` BIGINT words — 16 MiB of words per 2^30 bits), and
every later probe is a broadcast of that bitmap plus one aggregation
over the batch. Probing never reads, shuffles, or even lists the
corpus. The price is a tunable false-positive rate
``(1 - e^(-k·n/m))^k`` (n keys, m bits, k hashes) and no deletions —
exactly the right trade for "skip documents we almost certainly
ingested already" in front of an exact store-backed pass
(``dedup.dedup_against_store`` confirms the survivors).

Engine-portable by construction: bit positions are md5-derived
(``md5(key || ':' || i)`` folded to the shared 60-bit BIGINT,
functions/text.py:187) so an external system — or the DuckDB oracle —
rebuilds the identical bitmap from the same keys. Position i of a key
is ``md5_long(key || ':' || i) % n_bits``; a key "hits" iff all k of
its positions are set by some corpus key. The oracle replica checks
positions against the corpus's distinct-position set, which is
semantically identical to the bitmap (a word bit is set iff some
corpus key produced that position), false positives included.

Reference lineage: the reference has no probabilistic membership — its
dedup story is exact id lookup (syzgydb collection.go GetDocument).
This module is part of the declared LLM-pipeline superset; the
reference-shaped exact path stays in dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_long

__all__ = [
    "bloom_positions",
    "bloom_build",
    "bloom_probe",
    "bloom_filter_new",
    "build_bloom_store",
    "update_bloom_store",
    "read_bloom_store",
    "probe_bloom_store",
]

_WORD = 64  # bits per bitmap word (BIGINT)

# SQL expressions over a materialized `bit` column (the Python
# F.shiftleft wrapper only takes a literal shift count)
_WORD_IDX = f"CAST(bit / {_WORD} AS BIGINT)"
_MASK = f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {_WORD} AS INT))"


def bloom_positions(key: Column, *, n_bits: int, n_hashes: int) -> Column:
    """``array<long>`` of the key's ``n_hashes`` bit positions in
    ``[0, n_bits)``. Deterministic, engine-portable (md5-derived).

    NULL keys are coalesced to a private sentinel so a null-keyed row
    hashes like any other value: build inserts it, probe finds it.
    Without this, ``F.concat`` yields NULL, the exploded positions
    vanish, and a stream of null-key rows would classify as
    definitely-new on every probe (never deduplicated)."""
    key = F.coalesce(key.cast("string"), F.lit("\x00__bloom_null__\x00"))
    return F.array(
        *[
            md5_long(F.concat(key, F.lit(f":{i}"))) % n_bits
            for i in range(n_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    key: Column | str,
    *,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Fold a key relation into a sparse Bloom bitmap:
    ``(word_idx long, word long)``, one row per 64-bit word with at
    least one set bit.

    Exactly ONE shuffle at any scale: bit positions are exploded
    map-side and ``bit_or`` is algebraic, so partial aggregation
    combines each partition's masks before the exchange — what moves
    is at most ``min(n_keys·k, n_bits/64)`` (word, mask) pairs per
    partition, independent of row width. No distinct pass is needed
    (OR is idempotent).

    Size ``n_bits`` at ~10 bits/key for ~1% false positives with
    k=5-7; the bitmap relation is then ``n_bits/64`` rows — small
    enough to broadcast (8 MiB of words per 2^26 keys at 10 bits/key).
    """
    key = F.col(key) if isinstance(key, str) else key
    bit = F.explode(
        bloom_positions(key, n_bits=n_bits, n_hashes=n_hashes)
    ).alias("bit")
    return (
        df.select(bit)
        .select(
            F.expr(_WORD_IDX).alias("word_idx"),
            F.expr(_MASK).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    batch: DataFrame,
    bloom: DataFrame,
    key: Column | str,
    *,
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Probe every batch row against a built bitmap → ``(id_col,
    bloom_hit boolean)``. ``bloom_hit`` true means "probably in the
    corpus" (false-positive rate per the build sizing); false means
    DEFINITELY new.

    Plan shape: explode k positions per row (map-side), broadcast-join
    the bitmap words, then one aggregation back to row grain
    (``bool_and`` of the k bit tests). The corpus itself is never
    touched — the only relation that moves is the batch at k× row
    inflation of two small columns, and the only shuffle is the
    re-aggregation on ``id_col``. ``n_bits``/``n_hashes`` MUST match
    the build (positions are derived, not stored).
    """
    key = F.col(key) if isinstance(key, str) else key
    probe = batch.select(
        F.col(id_col),
        F.explode(bloom_positions(key, n_bits=n_bits, n_hashes=n_hashes)).alias("bit"),
    ).select(
        id_col,
        F.expr(_WORD_IDX).alias("word_idx"),
        F.expr(_MASK).alias("mask"),
    )
    hit = F.coalesce(
        (F.col("word").bitwiseAND(F.col("mask")) != 0), F.lit(False)
    ).alias("bit_set")
    return (
        probe.join(F.broadcast(bloom), "word_idx", "left")
        .select(id_col, hit)
        .groupBy(id_col)
        .agg(F.bool_and("bit_set").alias("bloom_hit"))
    )


def bloom_filter_new(
    batch: DataFrame,
    bloom: DataFrame,
    key: Column | str,
    *,
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Keep only the batch rows that are DEFINITELY not in the corpus
    (``bloom_hit`` false — Bloom filters have no false negatives).
    The survivors are what an exact store-backed pass then verifies;
    at a 1% fp rate this removes 99% of the exact pass's probe load
    for an already-seen-heavy batch."""
    hits = bloom_probe(
        batch, bloom, key, id_col=id_col, n_bits=n_bits, n_hashes=n_hashes
    )
    return batch.join(hits.where(~F.col("bloom_hit")), id_col, "inner").drop(
        "bloom_hit"
    )


# ------------------------------------------------- persisted bloom store
#
# A delta store under the shared protocol (operators/maintenance.py
# module docstring): each update writes its OWN word rows as a new
# ``batch=<token>`` delta and readers OR-fold every delta. OR is
# idempotent, so a replayed update changes no bit and compaction needs
# no manifest. A ``bloom.json`` sidecar pins n_bits / n_hashes at build
# time and every probe/update reads them from there: a parameter
# mismatch (which would silently produce garbage positions) is
# structurally impossible, not just documented.

import json as _json
import posixpath as _pp

from .maintenance import (
    _batch_dir,
    _delta_token,
    _exists,
    _list_batch_tokens,
    _read_deltas,
    _read_text,
    _write_text,
    publish_parquet_atomically,
)

_SCHEMA = "word_idx BIGINT, word BIGINT"


def _or_fold(deltas: DataFrame) -> DataFrame:
    return deltas.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def _read_bloom_meta(spark, path: str) -> dict:
    txt = _read_text(spark, _pp.join(path, "bloom.json"))
    if txt is None:
        raise FileNotFoundError(
            f"no bloom store at {path} (build_bloom_store first)"
        )
    return _json.loads(txt)


def build_bloom_store(
    df: DataFrame,
    key: Column | str,
    path: str,
    *,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> None:
    """Materialize the corpus's Bloom state at ``path`` (word deltas
    under ``batch=0`` + the parameter sidecar). One bit_or aggregation
    at any corpus size; the store on disk is ≤ n_bits/64 rows."""
    spark = df.sparkSession
    if _exists(spark, _pp.join(path, "bloom.json")):
        raise FileExistsError(f"bloom store exists at {path}")
    bloom_build(df, key, n_bits=n_bits, n_hashes=n_hashes).write.mode(
        "overwrite"
    ).parquet(_batch_dir(path, "0"))
    _write_text(spark, _pp.join(path, "bloom.json"),
                _json.dumps({"n_bits": n_bits, "n_hashes": n_hashes}))


def update_bloom_store(df: DataFrame, key: Column | str, path: str) -> None:
    """Fold a new batch's keys into the store: writes ONLY the batch's
    own word rows (a new ``batch=<token>`` delta) — prior state is
    never rewritten, so concurrent readers keep a consistent view and
    a replayed update is a no-op bit-wise (OR-fold idempotence).
    Parameters come from the sidecar; they cannot drift from the build.

    CONCURRENT WRITERS are safe: each update writes into a fresh
    uuid-suffixed delta directory, so two simultaneous updaters can
    never pick the same target and clobber each other's word rows
    (the old max(n)+1 scheme could). Readers fold whatever deltas
    exist — OR is associative, so interleaving is irrelevant."""
    spark = df.sparkSession
    meta = _read_bloom_meta(spark, path)
    # rename-committed so a concurrent reader/compactor never folds a
    # half-written delta (for Bloom that would only UNDER-set bits,
    # but a compactor manifesting the token would then drop the rest
    # of the batch's bits permanently — same race as the sum stores)
    publish_parquet_atomically(
        bloom_build(df, key, n_bits=meta["n_bits"], n_hashes=meta["n_hashes"]),
        _batch_dir(path, _delta_token(spark, path)))


def read_bloom_store(spark, path: str):
    """The folded live bitmap + its parameters: ``(words_df, meta)``.
    One aggregation over all batch deltas (OR is associative and
    idempotent — fold order and replays are irrelevant)."""
    meta = _read_bloom_meta(spark, path)
    tokens = _list_batch_tokens(spark, path)
    return _or_fold(_read_deltas(spark, path, tokens, _SCHEMA)), meta


def probe_bloom_store(
    batch: DataFrame,
    path: str,
    key: Column | str,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """``bloom_probe`` against a persisted store, with n_bits/n_hashes
    taken from the store's own sidecar."""
    words, meta = read_bloom_store(batch.sparkSession, path)
    return bloom_probe(
        batch, words, key,
        id_col=id_col, n_bits=meta["n_bits"], n_hashes=meta["n_hashes"],
    )
