"""Structured Streaming ingestion into collections + windowed analytics.

The reference has no streaming at all (SURVEY.md §2.8); this is the
north-star extension surface. Two shapes:

* ``stream_into_collection`` — a streaming source of documents upserted
  into a :class:`Collection` via ``foreachBatch`` (each micro-batch is
  one idempotent bucket-merge, the streaming analog of AddDocument;
  exactly how a Delta ``MERGE`` sink would be wired on a cluster);
* ``windowed_event_counts`` — watermarked tumbling-window aggregation
  over an events stream (late data handled by the watermark).

Tests drive both with ``trigger(availableNow=True)`` over the parquet
events fixture, which exercises the full streaming machinery
deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from syzgydb_spark.collection import Collection
from syzgydb_spark.operators.maintenance import _list_batch_tokens


def _list_batch_dirs(spark: SparkSession, d: str) -> list[int]:
    """Integer batch ids present under ``d`` (the store listing of
    ``operators/maintenance.py``, Hadoop-FS based so hdfs:// / s3a://
    state directories work like local paths)."""
    out = []
    for t in _list_batch_tokens(spark, d):
        try:
            out.append(int(t))
        except ValueError:
            continue
    return sorted(out)


def read_events_stream(
    spark: SparkSession, path_glob: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Stream the events table layout (event_id, ts TIMESTAMP(µs),
    user_id, event_type, value, props) from a parquet directory. The
    session-timezone-naive parquet timestamps are cast to TIMESTAMP
    (session tz is UTC) so watermarks/windows behave identically
    everywhere."""
    schema = (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path_glob)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with a watermark for
    late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup ACROSS micro-batches: the first document with a
    given normalized fingerprint passes, later copies arriving within
    the watermark horizon are dropped.

    This is the streaming form of ``dedup_against`` — the "standing
    corpus" is the operator's own state store, and the watermark bounds
    that state (a duplicate arriving later than the horizon is passed
    through; unbounded exactness would mean unbounded state, which is
    the wrong default for an infinite stream — compose with a periodic
    batch ``dedup_exact`` compaction for full-history semantics).

    Pure built-ins: fingerprint projection +
    ``dropDuplicatesWithinWatermark`` (RocksDB-backed keyed state on a
    cluster), so the plan scales with distinct-keys-per-horizon, not
    stream length."""
    from syzgydb_spark.functions.text import fingerprint

    return (
        stream.withColumn("_fp", fingerprint(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def streaming_near_dedup(
    stream: DataFrame,
    *,
    out_dir: str,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    impl: str = "arrow",
    checkpoint: str | None = None,
    available_now: bool = True,
    state_mode: str = "exact",
) -> StreamingQuery:
    """MinHash NEAR-dup dedup ACROSS micro-batches — the streaming form
    of ``minhash_dedup_against``: each batch is checked against the
    standing corpus of accepted documents, and survivors' signatures
    join that corpus for all later batches.

    State is not an opaque operator store but a persisted SIGNATURE
    RELATION under ``state_dir`` (``hs/`` hashed shingle sets, ``bands/``
    band keys — the narrow precomputable relation the batch operator's
    docstring prescribes persisting): the corpus side never re-reads or
    re-hashes its text, each batch pays the kernel only for itself, and
    the check is a band-key equi-join — new×corpus, never corpus×corpus.
    Both stores and the survivor output are written per micro-batch into
    ``batch={id}`` subdirectories with overwrite, so a replayed batch
    (restart from checkpoint) is idempotent.

    Within a batch, a document is dropped when an EARLIER batch member
    (lower ``id_col`` — arrival order needs a monotonic id, e.g. an
    ingest sequence) is its verified near-dup; this is batch-greedy:
    a doc whose only match was itself dropped still drops, which can
    only over-remove relative to one-at-a-time arrival (conservative).

    ``state_mode`` bounds the state-size / exactness trade:

    * ``'exact'`` (default) verifies candidates with the true Jaccard
      over hashed shingle sets — state is O(accepted-corpus TOKENS),
      linear in the text itself.
    * ``'signature'`` stores only the ``num_hashes``-component MinHash
      signature per accepted doc (``sig/`` + ``bands/``) and verifies
      with the MinHash Jaccard estimate — state is O(docs ×
      num_hashes) CONSTANTS. The estimate is unbiased with std ≈
      sqrt(J(1-J)/num_hashes): at the defaults (64 hashes, t=0.7) a
      borderline pair wobbles ±0.057, so a few pairs just below/above
      the threshold flip relative to exact mode (quantified by a
      differential test). The mode every 100 TB deployment should run.

    With exact mode, compact the store with a periodic batch
    ``minhash_near_duplicates`` run if the corpus outgrows it;
    ``compact_near_dedup_state`` folds either mode's small files."""
    import os

    from syzgydb_spark.operators.dedup import (
        _dup_ids_against,
        _dup_ids_against_sig,
        _minhash_keyed,
        _minhash_sig_keyed,
    )

    if state_mode not in ("exact", "signature"):
        raise ValueError(f"unknown state_mode {state_mode!r}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if state_mode == "signature":
            keyed, dup_fn, store0 = _minhash_sig_keyed, _dup_ids_against_sig, "sig"
        else:
            keyed, dup_fn, store0 = _minhash_keyed, _dup_ids_against, "hs"
        hs_n, band_n = keyed(
            batch_df, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            seed=seed, hash_fn=hash_fn, impl=impl,
        )
        try:
            dup_ids = dup_fn(
                hs_n, band_n, hs_n, band_n, id_col, threshold, earlier_only=True
            )
            hs_dir = os.path.join(state_dir, store0)
            band_dir = os.path.join(state_dir, "bands")
            # corpus = batches present in BOTH stores (a crash between
            # the hs and bands writes must not wedge the replay on a
            # half-written batch), EXCLUDING the current batch id: on a
            # checkpoint-restart replay this batch's own surviving
            # signatures are already in the store, and every doc would
            # self-match (jaccard 1.0) and be dropped — the replayed
            # batch must reproduce its original decisions instead
            corpus_batches = sorted(
                (set(_list_batch_dirs(spark, hs_dir))
                 & set(_list_batch_dirs(spark, band_dir))) - {batch_id}
            )
            if corpus_batches:
                hs_c = spark.read.option("basePath", hs_dir).parquet(
                    *[os.path.join(hs_dir, f"batch={b}") for b in corpus_batches]
                ).drop("batch")
                band_c = spark.read.option("basePath", band_dir).parquet(
                    *[os.path.join(band_dir, f"batch={b}") for b in corpus_batches]
                ).drop("batch")
                dup_ids = dup_ids.unionByName(
                    dup_fn(hs_n, band_n, hs_c, band_c, id_col, threshold)
                ).distinct()
            survivors = batch_df.join(dup_ids, id_col, "left_anti")
            survivors.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )
            keep = F.col(id_col)
            surv_ids = spark.read.parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            ).select(keep)
            hs_n.join(surv_ids, id_col, "left_semi").write.mode("overwrite").parquet(
                os.path.join(hs_dir, f"batch={batch_id}")
            )
            band_n.join(surv_ids, id_col, "left_semi").write.mode("overwrite").parquet(
                os.path.join(band_dir, f"batch={batch_id}")
            )
        finally:
            handle = getattr(hs_n, "_persisted_src", None)
            if handle is not None:
                handle.unpersist()

    writer = stream.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_decontaminate(
    stream: "DataFrame",
    eval_set: DataFrame,
    *,
    out_dir: str,
    n: int = 8,
    id_col: str = "doc_id",
    eval_id: str = "doc_id",
    text_col: str = "text",
    min_overlap: int = 1,
    max_eval_df: int = 1000,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Benchmark decontamination ON INGEST: every arriving training
    document is checked for shared word-``n``-grams against the STATIC
    eval/benchmark relation, and contaminated docs are dropped before
    they ever land — the guard a continuously-fed training corpus needs
    (running the batch decontaminate after the fact means contaminated
    shards already shipped).

    Stateless by design: the eval set is fixed for the run, so each
    micro-batch decides independently (`operators.contamination.
    decontaminate`, eval side broadcast → a map-side probe of the
    batch). No state directory, nothing to replay — a restarted batch
    reproduces its decisions from the same eval relation. Cleaned
    batches land under ``out_dir/batch={id}`` (overwrite →
    restart-idempotent)."""
    import os

    from syzgydb_spark.operators.contamination import decontaminate

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cleaned = decontaminate(
            batch_df,
            eval_set,
            n=n,
            train_id=id_col,
            eval_id=eval_id,
            text_col=text_col,
            min_overlap=min_overlap,
            max_eval_df=max_eval_df,
        )
        cleaned.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    writer = stream.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_line_dedup(
    stream: "DataFrame",
    *,
    out_dir: str,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    min_line_chars: int = 15,
    hash_fn: str = "xxhash64",
    sep: str = "\n",
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Corpus-wide line dedup ACROSS micro-batches — the streaming form
    of ``line_dedup_against_store``: each batch's lines are counted
    against the running per-hash totals of every PRIOR batch, lines
    whose cumulative count reaches ``min_count`` are cut from the
    current batch, and the batch's own counts fold into the state for
    all later batches.

    State is a per-batch DELTA relation of ``(h, n)`` rows under
    ``state_dir/batch={id}`` (summed per hash at read — the same delta
    model as the batch line store); both state and the cleaned output
    are written with overwrite into batch-id directories, and the state
    read EXCLUDES the current batch id, so a replayed micro-batch
    (restart from checkpoint) reproduces its original decisions
    exactly. Run ``build_line_store`` + the batch operator for
    retroactive cleaning; the streaming form only cuts forward."""
    import os

    from syzgydb_spark.operators.dedup import _eligible_lines, _line_dedup_apply

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        lines = _eligible_lines(
            batch_df, text_col, id_col,
            min_line_chars=min_line_chars, hash_fn=hash_fn, sep=sep,
        )
        store_counts = None
        prior = sorted(
            set(_list_batch_dirs(spark, state_dir)) - {batch_id}  # replay idempotency
        )
        if prior:
            store_counts = (
                spark.read.option("basePath", state_dir)
                .parquet(*[os.path.join(state_dir, f"batch={b}") for b in prior])
                .groupBy("h")
                .agg(F.sum("n").alias("_sn"))
            )
        cleaned = _line_dedup_apply(
            lines, store_counts, min_count=min_count, id_col=id_col, sep=sep
        )
        cleaned.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        deltas = (
            lines.where(F.col("_h").isNotNull())
            .groupBy(F.col("_h").alias("h"))
            .agg(F.count("*").alias("n"))
        )
        deltas.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch={batch_id}")
        )

    writer = stream.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_bloom_dedup(
    stream: "DataFrame",
    *,
    out_dir: str,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Bloom-gated dedup ACROSS micro-batches: each batch is probed
    against the running Bloom bitmap of every PRIOR batch's
    (dedup-normalized) keys, only the definitely-new rows are emitted,
    and the batch's own bits fold into the state for later batches.

    The streaming counterpart of ``bloom.probe_bloom_store``: state is
    the per-batch word-delta relation (OR-folded at read, current
    batch EXCLUDED so a checkpoint replay reproduces its original
    decisions), sized by n_bits — CONSTANT in stream length, versus
    ``streaming_dedup``'s per-key state that the watermark must bound.
    The trade is the Bloom false-positive rate: a colliding fresh
    document is dropped as "probably seen", so size n_bits at ~10
    bits per expected corpus key (fp ≈ 1%) and use the exact
    ``streaming_dedup`` where loss is unacceptable. Within-batch
    duplicates both pass (their bits land together) — compose
    ``dedup_exact`` in a downstream batch pass if that matters.
    """
    import os

    from syzgydb_spark.functions.text import normalized_text
    from syzgydb_spark.operators.bloom import bloom_build, bloom_probe

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key = normalized_text(text_col)
        prior = sorted(
            set(_list_batch_dirs(spark, state_dir)) - {batch_id}  # replay idempotency
        )
        if prior:
            words = (
                spark.read.option("basePath", state_dir)
                .parquet(*[os.path.join(state_dir, f"batch={b}") for b in prior])
                .groupBy("word_idx")
                .agg(F.bit_or("word").alias("word"))
            )
            hits = bloom_probe(
                batch_df, words, key,
                id_col=id_col, n_bits=n_bits, n_hashes=n_hashes,
            )
            fresh = batch_df.join(
                hits.where(~F.col("bloom_hit")), id_col, "inner"
            ).drop("bloom_hit")
        else:
            fresh = batch_df
        fresh.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        bloom_build(
            batch_df, key, n_bits=n_bits, n_hashes=n_hashes
        ).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch={batch_id}")
        )

    writer = stream.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_near_dedup_state(spark: SparkSession, state_dir: str) -> int:
    """Compact ``streaming_near_dedup``'s per-batch signature
    directories into one consolidated partition. Run while the stream
    is STOPPED (between availableNow runs, or on a maintenance
    schedule): many tiny ``batch=N`` directories accumulate one per
    micro-batch, and the corpus read in every later batch pays their
    file-listing and small-file overhead. Returns the number of batch
    directories folded in.

    Rewrites into ``batch=-1`` (never produced by a live stream, so a
    subsequent replayed batch id cannot collide) via a backup-rename
    protocol (no crash window deletes the only compacted copy; a
    half-finished previous run is recovered on entry). The NEWEST
    batch is never folded — foreachBatch is at-least-once, so it may
    still replay and must keep excluding its own signatures by batch
    id. Local-filesystem maintenance utility (os-level renames); on a
    cluster FS compact by re-running the batch build instead."""
    import os
    import shutil

    # either state mode: 'hs' (exact shingle sets) or 'sig'
    # (signature-only bounded state)
    store0 = "hs" if os.path.isdir(os.path.join(state_dir, "hs")) else "sig"
    hs_dir = os.path.join(state_dir, store0)
    band_dir = os.path.join(state_dir, "bands")
    if not os.path.isdir(hs_dir):
        return 0
    # crash recovery from a previous compaction: if the backup exists
    # but batch=-1 doesn't, the crash hit between the rename-away and
    # the rename-in — restore the backup before doing anything else
    for d in (hs_dir, band_dir):
        bak = os.path.join(d, "_backup_-1")
        tgt = os.path.join(d, "batch=-1")
        if os.path.isdir(bak) and not os.path.isdir(tgt):
            os.replace(bak, tgt)
        shutil.rmtree(bak, ignore_errors=True)

    def batch_names(d):
        if not os.path.isdir(d):
            return set()
        return {
            f for f in os.listdir(d)
            if f.startswith("batch=") and f != "batch=-1"
        }

    # fold only batches present in BOTH stores (a half-written crash
    # leftover is skipped, the stream replay will rewrite it), and
    # NEVER the highest live batch id: foreachBatch is at-least-once,
    # so the newest batch may be uncommitted in the checkpoint and
    # about to replay — folding it into batch=-1 would defeat the
    # replay's own-batch exclusion and every doc would self-match
    both = sorted(batch_names(hs_dir) & batch_names(band_dir))
    olds = both[:-1]
    if not olds:
        return 0
    for d, sub in ((hs_dir, store0), (band_dir, "bands")):
        src = spark.read.option("basePath", d).parquet(
            *[os.path.join(d, f) for f in olds + (["batch=-1"] if os.path.isdir(os.path.join(d, "batch=-1")) else [])]
        ).drop("batch")
        tmp = os.path.join(state_dir, f"_compact_{sub}")
        src.write.mode("overwrite").parquet(tmp)
        # backup-rename protocol: batch=-1 is moved aside, the new
        # consolidation renamed in, THEN the backup dropped — no crash
        # window in which the only copy of compacted state is deleted
        tgt = os.path.join(d, "batch=-1")
        bak = os.path.join(d, "_backup_-1")
        if os.path.isdir(tgt):
            os.replace(tgt, bak)
        os.replace(tmp, tgt)
        shutil.rmtree(bak, ignore_errors=True)
    for d in (hs_dir, band_dir):
        for f in olds:
            shutil.rmtree(os.path.join(d, f), ignore_errors=True)
    return len(olds)


def stream_into_collection(
    stream_df: DataFrame,
    coll: Collection,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    metadata_col: str = "metadata",
    seq_col: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously upsert a document stream into a collection.

    Each micro-batch runs the same last-write-wins bucket merge as the
    batch path — the batch/stream unification Structured Streaming is
    built around.

    Within a batch, duplicates of one id are resolved by ``seq_col``
    (an event-time / sequence column, highest wins) when given — the
    only ordering that corresponds to source order across multi-file
    micro-batches. Without it the winner is an arbitrary-but-
    deterministic tie-break on the metadata text (documented: no file
    order exists to recover).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cols = [
            F.col(id_col).cast("long").alias("id"),
            F.col(vector_col).cast("array<double>").alias("vector"),
            F.col(metadata_col).cast("string").alias("metadata"),
        ]
        if seq_col is not None:
            cols.append(F.col(seq_col).alias("_seq"))
        docs = batch_df.select(*cols)
        # dedup within the batch: one winner per id
        from pyspark.sql import Window

        # the vector-hash tie-break makes the winner deterministic even
        # when two rows share id AND metadata but differ in vector —
        # required for at-least-once replay to reconverge to the same
        # collection state
        order = (
            [F.col("_seq").desc_nulls_last()] if seq_col is not None else []
        ) + [
            F.col("metadata").desc_nulls_last(),
            F.xxhash64("vector").desc_nulls_last(),
        ]
        w = Window.partitionBy("id").orderBy(*order)
        docs = (
            docs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", *(["_seq"] if seq_col is not None else []))
        )
        # cheap emptiness probe on the RAW batch (isEmpty on the
        # windowed plan would evaluate the whole dedup twice — once
        # here, once inside add_documents)
        if not batch_df.isEmpty():
            coll.add_documents(docs)

    writer = stream_df.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_session_stats(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of temporal.session_stats: Spark's native
    ``session_window`` merges per-key events whose gaps stay under
    ``gap`` into growing session rows; the watermark closes sessions
    once event time passes their end, bounding state. Batch and stream
    agree on the session partitioning (same gap rule); the batch form
    additionally numbers sessions per key, which a stream cannot do
    (numbering is unbounded history).

    Scale: state is one in-flight session row per active (key,
    session); the watermark evicts closed sessions every trigger."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts), gap).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            key,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def stream_domain_cap(
    docs: DataFrame,
    cap: int,
    *,
    url_col: str = "url",
    seq_col: str = "doc_id",
) -> DataFrame:
    """Per-registrable-domain document caps ON INGEST: emit each
    arriving document only while its domain's accepted count stays
    within ``cap`` — the streaming twin of ``functions/url.
    per_domain_cap``, for pipelines that throttle hot sites before
    documents ever land rather than in a batch pass after.

    Composition, not new machinery: the domain key is the same
    codegen ``registered_domain(url_host(...))`` expression the batch
    op uses, and the stateful metering is ``stream_token_quota`` with
    unit tokens (state per domain = one counter; prefix mode, so
    acceptance per micro-batch is deterministic in ``seq_col`` order).
    With in-order arrival the accepted set equals the batch operator's
    smallest-``seq_col``-first caps exactly (differential-tested);
    out-of-order arrival keeps the cap exact but first-arrived wins —
    the honest streaming contract. Adds ``domain``."""
    from syzgydb_spark.functions.url import registered_domain, url_host
    from syzgydb_spark.streaming.quota import stream_token_quota

    keyed = docs.withColumn(
        "domain", registered_domain(url_host(F.col(url_col)))
    ).withColumn("_one", F.lit(1))
    return stream_token_quota(
        keyed,
        int(cap),
        strata_col="domain",
        token_col="_one",
        seq_col=seq_col,
        mode="prefix",
    ).drop("_one")


def stream_frequent_terms(
    stream: "DataFrame",
    *,
    store_path: str,
    term_col: str = "term",
    capacity: int = 1024,
    checkpoint: str | None = None,
    available_now: bool = True,
    namespace: str = "stream",
) -> StreamingQuery:
    """Streaming heavy hitters: each micro-batch's bounded Misra-Gries
    summary folds into the persisted store (operators/sketch.py) under
    a NAMESPACED batch-id delta token — `update_mg_store`'s
    stable-token contract — so a checkpoint replay OVERWRITES its own
    delta instead of double-counting (summary addition, unlike the
    Bloom store's OR, is not idempotent; the token is the idempotency).
    The namespace prefix keeps stream deltas disjoint from
    `build_mg_store`'s token ``"0"`` — a bare ``str(batch_id)`` token
    would silently overwrite a pre-built store's batch-0 delta, losing
    its counts. Distinct streams feeding ONE store must pass distinct
    ``namespace`` values (same single-writer-per-token stance as the
    dedup stores); replaying the same logical stream keeps the default
    so its tokens stay stable. A stream restarted with a FRESH
    checkpoint is a new stream in this sense — its batch ids restart
    at 0, and after a compaction those tokens are superseded;
    ``update_mg_store`` raises on the collision (new checkpoint →
    new namespace) rather than silently excluding the new batches. State per batch is ≤ capacity rows
    regardless of batch size; `read_mg_store` serves the live
    (term, est_count, err_bound) fold at any moment, including
    mid-stream. The first batch initializes the store's enforced
    capacity sidecar (`ensure_mg_store`)."""
    from syzgydb_spark.operators.sketch import ensure_mg_store, update_mg_store

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ensure_mg_store(batch_df.sparkSession, store_path, capacity)
        update_mg_store(batch_df, term_col, store_path,
                        token=f"{namespace}-{batch_id}")

    writer = stream.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_value_distribution(
    stream: "DataFrame",
    *,
    store_path: str,
    value_col: str = "value",
    capacity: int = 256,
    checkpoint: str | None = None,
    available_now: bool = True,
    namespace: str = "stream",
) -> StreamingQuery:
    """Streaming distribution tracking: each micro-batch's bounded
    quantile summary (operators/quantiles.py) folds into the persisted
    store under a NAMESPACED batch-id delta token — the
    ``stream_frequent_terms`` contract applied to distributions.
    Summary addition is not idempotent, so the stable token is the
    idempotency: a checkpoint replay OVERWRITES its own delta (and a
    replay of an already-COMPACTED batch is excluded by the store's
    manifest — never double-weighted). The namespace keeps stream
    deltas disjoint from ``build_quantile_store``'s token ``"0"``;
    distinct streams feeding one store must pass distinct namespaces,
    and so must a stream RESTARTED WITH A FRESH CHECKPOINT: batch ids
    restart at 0, so after a compaction the restarted stream would
    reuse superseded tokens for genuinely new batches —
    ``update_quantile_store`` now raises on that collision instead of
    silently dropping the data.
    State per batch is ≤ capacity rows regardless of batch size;
    ``read_quantile_store`` + ``sketch_quantiles`` serve the live
    distribution at any moment, including mid-stream. The first batch
    initializes the store's enforced capacity sidecar."""
    from syzgydb_spark.operators.quantiles import (
        ensure_quantile_store,
        update_quantile_store,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ensure_quantile_store(batch_df.sparkSession, store_path, capacity)
        update_quantile_store(batch_df, value_col, store_path,
                              token=f"{namespace}-{batch_id}")

    writer = stream.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
