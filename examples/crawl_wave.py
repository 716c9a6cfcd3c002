"""Incremental crawl-wave ingestion — the OPERATIONAL loop that keeps
a 100 TB corpus growing without ever re-scanning it.

`examples/pretrain_pipeline.py` is the BATCH story (one pass over a
standing corpus). This is its steady-state sibling: crawl dumps arrive
as WET segment waves, and each wave must be ingested exactly once,
cleaned, deduplicated against EVERYTHING already accepted — without
reading the standing corpus — and folded into the incremental state
the next wave will probe. Every stage is an operator this engine
ships; nothing here adds a shuffle beyond the members' own:

    WET segments        exactly-once ledger ingest, quarantine
         │              (sources/warc.ingest_warc_segments)
    wave documents      wet_text projection of THIS wave's batch only
         │
    quality gate        Gopher rule set, zero-shuffle projection
         │              (operators/quality.gopher_filters)
    Bloom pre-filter    "probably seen" rows skip the exact probe;
         │              definite-new rows skip the store join entirely
         │              (operators/bloom.probe_bloom_store)
    exact dedup         fingerprint store anti-join — co-bucketed,
         │              store side never shuffles (dedup_against_store)
    line dedup          boilerplate cut against corpus-wide line
         │              counts (line_dedup_against_store)
    accept + fold       corpus append; line/Bloom/MG/quantile and,
         │              last, fingerprint stores each take the wave
         │              as one bounded delta (hot terms + length
         │              drift tracked without re-scanning prior waves)
    compaction          every N waves: delta histories fold back to
                        O(1) dirs (operators/maintenance)

Per-wave cost is proportional to the WAVE: the corpus is never
re-read (the stores carry its dedup state), the store sides of the
probes never shuffle (bucketed layouts), and the Bloom gate removes
most already-seen rows before the exact join even runs.

Each wave relation is computed once. The wave's documents, its
quality-passing rows and its dedup survivors are persisted, so the
count after each fills the cache, and every later count, probe and
store fold reads those cached rows instead of re-running the WET
parse, quality gate, Bloom probe and fingerprint anti-join. The
survivors keep their Bloom route as a column, so the survivor and
Bloom-skip counts come from one aggregate. Every persisted relation
is released before compaction (persist keeps lineage, so nothing is
truncated).

The fingerprint store is folded last. The survivors are an anti-join
against the fingerprint table, and appending to that table refreshes
its file index: a re-evaluation of the survivors after the append
(an evicted cache block is recomputed from lineage) would drop every
survivor the Bloom gate sent to the exact probe. With that fold last,
no store's contents depend on the cache surviving.

Run directly (three demo waves with overlapping content, then a
re-run of wave 3 to show exactly-once, then compaction):

    python examples/crawl_wave.py [workdir]
"""

from __future__ import annotations

import os
import posixpath
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F


def _store_paths(work_dir: str) -> dict:
    return {
        "segments": posixpath.join(work_dir, "segments"),
        "ingest": posixpath.join(work_dir, "ingest"),
        "corpus": posixpath.join(work_dir, "corpus"),
        "bloom": posixpath.join(work_dir, "state", "bloom"),
        "mg": posixpath.join(work_dir, "state", "hot_terms"),
        "qs": posixpath.join(work_dir, "state", "len_dist"),
    }


def run_wave(
    spark,
    work_dir: str,
    *,
    fingerprint_table: str,
    line_table: str,
    min_words: int = 50,
    min_line_chars: int = 15,
    bloom_bits: int = 1 << 20,
    mg_capacity: int = 1024,
    compact: bool = False,
) -> dict:
    """Ingest whatever NEW segments sit under ``<work_dir>/segments``
    and fold the survivors into the corpus + stores. Returns per-stage
    counts. Idempotent: a re-run with no new segments is a no-op (the
    ledger already covers every segment), so a crashed wave is safely
    re-driven by just calling it again."""
    from syzgydb_spark.operators.bloom import (
        build_bloom_store,
        probe_bloom_store,
        update_bloom_store,
    )
    from syzgydb_spark.operators.dedup import (
        build_fingerprint_store,
        build_line_store,
        dedup_against_store,
        line_dedup_against_store,
        update_fingerprint_store,
        update_line_store,
    )
    from syzgydb_spark.operators.maintenance import (
        compact_bloom_store,
        compact_fingerprint_store,
        compact_line_store,
        compact_mg_store,
    )
    from syzgydb_spark.operators.quantiles import (
        build_quantile_store,
        compact_quantile_store,
        update_quantile_store,
    )
    from syzgydb_spark.operators.quality import gopher_filters
    from syzgydb_spark.operators.sketch import (
        build_mg_store,
        update_mg_store,
    )
    from syzgydb_spark.functions.text import word_tokens
    from syzgydb_spark.sources.warc import (
        INGEST_SCHEMA,
        ingest_warc_segments,
        wet_text,
    )

    p = _store_paths(work_dir)
    stats = ingest_warc_segments(
        spark, p["segments"], p["ingest"], on_error="quarantine"
    )
    out = {"new_segments": stats["new_segments"],
           "n_records": stats["n_records"], "n_failed": stats["n_failed"]}
    if stats["new_segments"] == 0:
        out.update(accepted=0, noop=True)
        return out

    # THIS wave's records only — the committed batch the ingest just
    # wrote, not the whole store (waves never re-read prior waves)
    records = spark.read.schema(INGEST_SCHEMA).parquet(
        posixpath.join(p["ingest"], "records", f"batch={stats['batch']}")
    ).where(~F.col("parse_error").eqNullSafe(True))

    # each wave relation is evaluated ONCE (module docstring): persisted
    # before the action that first reads it, released before compaction
    # or when the wave fails
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return df

    try:
        docs = hold(wet_text(records).select(
            F.col("uri").alias("doc_id"), "text"))
        out["wave_docs"] = docs.count()

        # quality gate — zero-shuffle projection
        q = gopher_filters(docs, id_col="doc_id", min_words=min_words)
        clean = hold(
            docs.join(q.where("passes").select("doc_id"), "doc_id", "semi"))
        out["quality_pass"] = clean.count()

        if not spark.catalog.tableExists(fingerprint_table):
            # bootstrap: this wave IS the corpus seed; self-dedup via the
            # batch operators, then build every store from the survivors
            from syzgydb_spark.operators.dedup import dedup_exact, line_dedup

            # stores are built from the PRE-line-cut unique docs: future
            # waves probe with their RAW text, so dedup keys must hash the
            # same (post-cut fingerprints would never match a raw repeat)
            unique = hold(dedup_exact(clean))
            accepted = (
                line_dedup(unique, min_line_chars=min_line_chars)
                .where(F.length("clean_text") > 0)
                .select("doc_id", F.col("clean_text").alias("text"))
            )
            accepted.write.mode("overwrite").parquet(p["corpus"])
            build_fingerprint_store(unique, fingerprint_table)
            build_line_store(unique, line_table, min_line_chars=min_line_chars)
            build_bloom_store(unique, F.col("text"), p["bloom"],
                              n_bits=bloom_bits)
            build_mg_store(
                unique.select(F.explode(word_tokens("text")).alias("term")),
                "term", p["mg"], capacity=mg_capacity)
            build_quantile_store(
                unique.select(F.length("text").alias("n_chars")),
                "n_chars", p["qs"], capacity=4096)
            out.update(accepted=spark.read.parquet(p["corpus"]).count(),
                       bloom_skipped=0, noop=False)
            return out

        # Bloom gate: definite-new rows (no false negatives) skip the
        # exact store join entirely; only the "maybe seen" remainder pays
        # it. Each survivor keeps its route in `bloom_hit`, so one
        # aggregate gives both counts: every bloom-negative row survives,
        # so the skipped rows are exactly the bloom-negative survivors
        hits = probe_bloom_store(clean, p["bloom"], F.col("text"),
                                 id_col="doc_id")

        def routed(hit: bool) -> DataFrame:
            return clean.join(
                hits.where(F.col("bloom_hit") == hit).select("doc_id"),
                "doc_id", "semi").withColumn("bloom_hit", F.lit(hit))

        survivors = hold(routed(False).unionByName(
            dedup_against_store(spark, routed(True), fingerprint_table)))
        n = survivors.agg(
            F.count("*").alias("surv"),
            F.count(F.when(~F.col("bloom_hit"), 1)).alias("skipped"),
        ).collect()[0]
        out["bloom_skipped"] = n["skipped"]

        # corpus-wide boilerplate cut, then accept. `accepted` counts the
        # POST-cut rows actually appended — a survivor whose clean_text
        # empties under the cut is filtered before the append, so the
        # pre-cut survivor count (reported as dedup_survivors) can exceed
        # it
        accepted = hold(
            line_dedup_against_store(
                spark, survivors, line_table, min_line_chars=min_line_chars)
            .where(F.length("clean_text") > 0)
            .select("doc_id", F.col("clean_text").alias("text"))
        )
        n_accepted = accepted.count()
        accepted.write.mode("append").parquet(p["corpus"])
        # fold the wave forward as ONE bounded delta per store. Fold the
        # PRE-line-cut survivors' fingerprints/lines: dedup keys must
        # match what a future wave's raw text will hash to, and line
        # counts keep accumulating boilerplate evidence
        # (build_line_store's policy)
        update_line_store(spark, survivors, line_table,
                          min_line_chars=min_line_chars)
        update_bloom_store(survivors, F.col("text"), p["bloom"])
        update_mg_store(
            survivors.select(F.explode(word_tokens("text")).alias("term")),
            "term", p["mg"])
        update_quantile_store(
            survivors.select(F.length("text").alias("n_chars")),
            "n_chars", p["qs"])
        # the fingerprint store goes LAST: `survivors` anti-joins that
        # table, and the append refreshes its file index, so any
        # re-evaluation of `survivors` after it (an evicted cache block
        # is recomputed from lineage) would drop every bloom-hit
        # survivor. Folded last, no later reader depends on the cache.
        update_fingerprint_store(spark, survivors, fingerprint_table)
        out.update(accepted=n_accepted, dedup_survivors=n["surv"],
                   noop=False)
    finally:
        for df in held:
            df.unpersist()

    if compact:
        out["compacted"] = {
            "bloom": compact_bloom_store(spark, p["bloom"]),
            "mg": compact_mg_store(spark, p["mg"]),
            "qs": compact_quantile_store(spark, p["qs"]),
            "fingerprint_files": compact_fingerprint_store(
                spark, fingerprint_table),
            "line_files": compact_line_store(spark, line_table),
        }
    return out


# ----------------------------------------------------------- demo driver


def _demo_segment(path: str, uris_texts: list[tuple[str, str]]) -> None:
    """Write a tiny WET segment (conversion records only)."""
    recs = []
    for uri, text in uris_texts:
        payload = text.encode()
        recs.append(b"\r\n".join([
            b"WARC/1.0",
            b"WARC-Type: conversion",
            b"WARC-Target-URI: " + uri.encode(),
            b"WARC-Date: 2024-01-01T00:00:00Z",
            b"Content-Length: " + str(len(payload)).encode(),
            b"", payload, b"", b"",
        ]))
    with open(path, "wb") as f:
        f.write(b"".join(recs))


def main() -> int:
    import shutil
    import tempfile

    from syzgydb_spark.session import get_spark

    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(
        prefix="crawl_wave_")
    spark = get_spark(app_name="crawl-wave", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    p = _store_paths(work)
    os.makedirs(p["segments"], exist_ok=True)

    body = ("the quick brown fox jumps over the lazy dog and then "
            "writes a long enough paragraph about it to pass the gate ")
    boiler = "subscribe to our newsletter for more of this content"
    waves = [
        [(f"http://a.example/{i}", f"{body}page {i}\n{boiler}")
         for i in range(6)],
        # wave 2: 3 repeats of wave 1 + 3 fresh
        [(f"http://b.example/{i}", f"{body}page {i}\n{boiler}")
         for i in range(3)]
        + [(f"http://b.example/n{i}", f"{body}fresh {i}\n{boiler}")
           for i in range(3)],
        # wave 3: all repeats but one
        [(f"http://c.example/{i}", f"{body}fresh {i}\n{boiler}")
         for i in range(3)]
        + [(f"http://c.example/solo", f"{body}only in wave three\n{boiler}")],
    ]
    kw = dict(fingerprint_table="crawl_demo_fp", line_table="crawl_demo_ln",
              min_words=5, min_line_chars=20)
    for i, wave in enumerate(waves, 1):
        _demo_segment(os.path.join(p["segments"], f"wave{i}.warc"), wave)
        r = run_wave(spark, work, compact=(i == len(waves)), **kw)
        print(f"wave {i}: {r}")
    print("re-run (no new segments):", run_wave(spark, work, **kw))
    corpus = spark.read.parquet(p["corpus"])
    print(f"corpus: {corpus.count()} docs "
          f"(boilerplate lines cut from waves 2+)")
    from syzgydb_spark.operators.quantiles import (
        read_quantile_store, sketch_quantiles)
    dist = sketch_quantiles(
        read_quantile_store(spark, p["qs"]), [0.5, 0.9]).collect()
    # the store records PRE-line-cut survivor raw-text lengths (the
    # same keys future waves probe with), not post-cut accepted lengths
    print("survivor raw-text length quantiles:",
          {r["q"]: r["value"] for r in dist})
    for t in ("crawl_demo_fp", "crawl_demo_ln"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    if len(sys.argv) <= 1:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
