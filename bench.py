"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall times.

Methodology: after generic session warmup (readers, per-core Python
workers), every query runs twice. ``queries``/``value`` report the
second, steady-state run — the number a long-lived cluster sees;
``cold_run_queries``/``cold_run_total`` report the first run, which
additionally pays one-time JVM JIT + Arrow-runner setup per novel plan
shape (~2-4 s each on this box).

The headline set covers every execution shape the engine has: exact
KNN top-k (TakeOrderedAndProject), batch KNN join (Arrow/numpy local
top-k), LSH ANN join (bucket equi-joins), filter-language scan
(codegen predicate over JSON), columnar agg + 3-way join (Catalyst),
window rank, MinHash near-dup (HOF + banded self-join), LSH-bucketed
embedding near-dup (candidate pairs + Arrow cosine verify), text stats
(regexp codegen), broadcast gram-probe decontamination, and the
explode+double-aggregation repetition stats, the as-of join
(union + partitioned window, join-free), BM25 (posting-list
explode + query-term filter + broadcast constants + TakeOrdered),
SemDeDup (cluster-bucketed quadratic pass), unigram-LM perplexity
(explode + broadcast vocab join + re-agg), sessionization
(lag/cumsum window), corpus-wide line dedup (posexplode + narrow
hash count + mark join + ordered text rebuild), the TPC-H Q3-shaped
filtered 3-way join (TakeOrdered top-10), per-cluster centroid-
distance outlier trim (broadcast centers + per-cell window), the
trained-subword tokenizer (Catalyst word split + Arrow greedy
segmenter, zero shuffle), normalization-aware exact dedup (md5-folded
key agg + semi join), per-doc TF-IDF keyword extraction (narrow term
shuffles + per-doc rank window), CCNet perplexity banding
(unigram-LM scoring + bounded-histogram quantile boundaries), the
single-scan table profiler, URL-canonical dedup (pure regexp codegen
+ one keyed agg), the salted two-stage per-language top-k, HTML→text
extraction (pure regexp chain), bounded-histogram per-key quantiles,
FastSS edit-distance pair generation, median/MAD robust outlier
flagging, continuous document-novelty scoring, the Bloom-bitmap
membership probe (one bit_or agg + broadcast-bitmap probe),
keeper-per-duplicate-cluster compaction (label propagation + two
aggregations), exclusion-aware hard-negative mining, the Arrow
character-entropy scorer, the leakage-safe cluster-keyed
train/val/test split, the MMR diversity re-rank (bounded
per-query applyInPandas kernel), and the Gopher A1.2 duplication
fractions (planted line structure + Arrow Counter kernel).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E
from syzgydb_spark.operators.knn import knn_join_fast
from syzgydb_spark.session import get_spark

from pyspark.sql import functions as F


def _force(df) -> int:
    """Force full execution without shipping rows to the driver."""
    return df.write.format("noop").mode("overwrite").save() or 0


def bench_queries(
    spark, sf_dir: str, only: set[str] | None = None
) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
    qs = E.queries()

    def knn_join_fast_bench(spark, sf_dir):
        emb = E._t(spark, sf_dir, "embeddings")
        data = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
        queries = emb.where(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
        )
        return knn_join_fast(data, queries, k=10, method="cosine")

    def len_dist_deciles(spark, sf_dir):
        from syzgydb_spark.operators.quantiles import (
            quantile_sketch,
            sketch_quantiles,
        )

        lens = E._t(spark, sf_dir, "documents").select(
            F.length("text").alias("v"))
        return sketch_quantiles(
            quantile_sketch(lens, "v", capacity=4096),
            [i / 10 for i in range(1, 10)])

    # ---- ANN serve-path pricing (r6-verdict task 7) ----
    # The *_served twins read a PRE-PERSISTED index-augmented table
    # (signatures / cells / codes stored as columns, the Collection
    # flow) so their warm number prices the query plan alone — the
    # steady-state a deployment sees — while the plain entries price
    # index-compute + query together. Same split bm25_search /
    # bm25_search_served made. The persist happens once per session in
    # the served entry's COLD run (excluded from the warm headline).

    def _served(spark, sf_dir, name, build):
        import re as _re

        from syzgydb_spark.sources.bucketed import clear_stale_location

        tbl = f"{name}_" + _re.sub(r"\W+", "_", sf_dir).strip("_")
        if not spark.catalog.tableExists(tbl):
            # a dead run can leave the warehouse dir without its
            # catalog entry; Spark refuses to recreate over it
            clear_stale_location(spark, tbl)
            build().write.mode("overwrite").saveAsTable(tbl)
        return spark.table(tbl)

    def _emb_q(spark, sf_dir, cast=None):
        emb = E._t(spark, sf_dir, "embeddings")
        v = F.col("embedding")
        if cast:
            v = v.cast(cast)
        data = emb.select(F.col("vec_id").alias("id"), v.alias("vector"))
        queries = emb.where(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), v.alias("query_vector")
        )
        return data, queries

    def ann_knn_join_served(spark, sf_dir):
        from syzgydb_spark.operators.lsh import LshIndex

        idx = LshIndex(64, num_tables=5, num_planes=10, seed=42,
                       method="cosine")
        data, queries = _emb_q(spark, sf_dir)
        stored = _served(spark, sf_dir, "lsh_sigs",
                         lambda: idx.with_signatures(data))
        return idx.knn_join(stored, queries, k=10)

    def ivf_knn_join_bench(spark, sf_dir):
        idx = E._ivf_fixture_index()
        data, queries = _emb_q(spark, sf_dir, cast="array<double>")
        return idx.knn_join(idx.with_cells(data), queries, k=10, n_probes=6)

    def ivf_knn_join_served(spark, sf_dir):
        idx = E._ivf_fixture_index()
        data, queries = _emb_q(spark, sf_dir, cast="array<double>")
        stored = _served(spark, sf_dir, "ivf_cells",
                         lambda: idx.with_cells(data))
        return idx.knn_join(stored, queries, k=10, n_probes=6)

    def pq_adc_knn_served(spark, sf_dir):
        from syzgydb_spark.operators.pq import PqIndex

        idx = PqIndex.from_seed(64, m=8, k=16, seed=42)
        data, queries = _emb_q(spark, sf_dir, cast="array<double>")
        stored = _served(spark, sf_dir, "pq_codes", lambda: idx.encode(data))
        return idx.adc_knn_join(stored, queries, k=10)

    headline = {
        "knn_euclidean": qs["knn_euclidean"],
        "knn_filtered_language": qs["knn_filtered_language"],
        "knn_join_fast_100q": knn_join_fast_bench,
        "ann_knn_join": qs["ann_knn_join"],
        "ann_knn_join_served": ann_knn_join_served,
        "ivf_knn_join": ivf_knn_join_bench,
        "ivf_knn_join_served": ivf_knn_join_served,
        "filter_lang_scan": qs["filter_lang_in_or_contains"],
        "pricing_summary": qs["pricing_summary"],
        "revenue_by_nation": qs["revenue_by_nation"],
        "top_orders_per_customer": qs["top_orders_per_customer"],
        "minhash_near_dups": qs["minhash_near_dups"],
        "text_stats": qs["text_stats"],
        "dedup_exact": qs["dedup_exact"],
        "embedding_near_dups": qs["embedding_near_dups"],
        "ngram_contamination": qs["ngram_contamination"],
        "repetition_stats": qs["repetition_stats"],
        "pq_adc_knn": qs["pq_adc_knn"],
        "pq_adc_knn_served": pq_adc_knn_served,
        "shuffle_shards": qs["shuffle_shards"],
        "events_asof_purchase": qs["events_asof_purchase"],
        "bm25_search": qs["bm25_search"],
        # same query, ordered AFTER bm25_search: by then the posting
        # store exists, so this row prices the SERVE path alone (term-
        # bucket scan -> broadcast constants -> TakeOrdered) while
        # bm25_search's cold number prices build+query together —
        # the two costs a deployment actually wants separated
        "bm25_search_served": qs["bm25_search"],
        "duplicate_spans": qs["duplicate_spans"],
        # winnowing fingerprint selection — priced since r12: its HOF
        # window scan was O(tokens²) via lambda re-inlining until the
        # sf0.1 sweep caught it; a bench row keeps the class visible
        "winnow_fingerprints": qs["winnow_fingerprints"],
        "semdedup": qs["semdedup"],
        "lm_perplexity": qs["lm_perplexity"],
        "bigram_perplexity": qs["bigram_perplexity"],
        "session_stats": qs["session_stats"],
        "line_dedup": qs["line_dedup"],
        "shipping_priority": qs["shipping_priority"],
        "embedding_outliers": qs["embedding_outliers"],
        "wordpiece_tokens": qs["wordpiece_tokens"],
        "quality_score": qs["quality_score"],
        "dedup_normalized": qs["dedup_normalized"],
        "tfidf_top_terms": qs["tfidf_top_terms"],
        "perplexity_bands": qs["perplexity_bands"],
        "profile_documents": qs["profile_documents"],
        "url_dedup": qs["url_dedup"],
        "salted_top_terms": qs["salted_top_terms"],
        "html_extract": qs["html_extract"],
        "histogram_quantiles": qs["histogram_quantiles"],
        "fuzzy_title_pairs": qs["fuzzy_title_pairs"],
        "event_value_outliers": qs["event_value_outliers"],
        "doc_novelty": qs["doc_novelty"],
        "bloom_dedup": qs["bloom_dedup"],
        "dedup_keep_best": qs["dedup_keep_best"],
        "hard_negatives": qs["hard_negatives"],
        "entropy_filter": qs["entropy_filter"],
        "leakage_split": qs["leakage_split"],
        "mmr_rerank": qs["mmr_rerank"],
        "unicode_clean": qs["unicode_clean"],
        "dup_stats": qs["dup_stats"],
        # bounded distribution summary + decile lookup (zero-shuffle
        # mapInPandas fold; the persisted-store path is exercised by
        # the registry lifecycle query, this prices the one-shot sketch)
        "len_dist_deciles": len_dist_deciles,
        # lossy-tier codec: full baseline JPEG encode+decode per doc
        # (numpy DCT both directions + Python-loop Huffman coding) —
        # prices the heaviest pure-Python mapInPandas kernel in the
        # registry
        "jpeg_pixel_stats": qs["jpeg_pixel_stats"],
        # the 4:2:0 color path (RGB<->YCbCr, chroma box average +
        # replication upsample, 6-blocks-per-MCU interleave) — the
        # layout real crawl photos actually use
        "jpeg_subsampled_stats": qs["jpeg_subsampled_stats"],
        # progressive (SOF2) path: multi-scan entropy decode — DC
        # first/refine + per-component AC first/refine with EOB runs
        "jpeg_progressive_stats": qs["jpeg_progressive_stats"],
        # feature-hashing doc vectors, dim=16: the heaviest pure-
        # Catalyst HOF kernel (2 md5 folds per token, zero shuffle,
        # zero Python) — prices the text->vector bridge at corpus scale
        "hashed_doc_embedding": qs["hashed_doc_embedding"],
        # persisted-store LIFECYCLES (build -> update(s) -> compact ->
        # read over a fresh temp store each run): the incremental-state
        # cost a crawl-wave deployment pays per wave, scaled by the
        # documents table
        "mg_compacted_counts": qs["mg_compacted_counts"],
        "len_quantile_sketch": qs["len_quantile_sketch"],
    }

    # Three passes per query: pass 0 pays one-time JVM JIT/codegen for
    # each plan shape (C2 compilation of HOF interpreters, Arrow
    # runners — profiled at 2-4 s per novel shape on this box, and
    # never re-paid by a long-lived cluster); the steady-state number
    # is the MIN of the two warm passes — this box shows heavy
    # run-to-run variance (same plan measured 2 s and 14 s minutes
    # apart with an idle machine), and min-of-warm-runs is the
    # standard way to report the plan's cost rather than the host's
    # noise. Cold (first) runs are reported alongside.
    if only:
        unknown = only - set(headline)
        if unknown:
            raise SystemExit(f"unknown bench queries: {sorted(unknown)}")
        headline = {k: v for k, v in headline.items() if k in only}

    from syzgydb_spark.cache import release_cached

    # Cache hygiene (r11 methodology fix, r10-verdict task 5): any
    # intermediate an operator persists FOR ITS OWN PLAN (dual-consumer
    # materializations: span/novelty gram relations, the tf-idf tf
    # relation, per-query BM25 postings, the perplexity-band scored
    # relation) is released after every timed run, so (a) warm passes
    # price STEADY-STATE RECOMPUTE — fill included — instead of
    # CacheManager sameResult hits from the previous pass, and (b)
    # three passes never pin three copies of a token-count-sized
    # relation for the rest of the bench. Relations that ARE the
    # deployment's long-lived serving state keep their session cache,
    # exactly as documented: entries flagged ``keeps_session_cache`` on
    # their registry function (the MinHash ingest signature cache — its
    # warm number has always priced signature reuse) and the LM model
    # fits (whose handles live on the model relation, not the scoring
    # result — fit once, score many). Warm numbers for the released
    # entries are therefore HIGHER than r10's for the same code; the
    # r10-methodology numbers live in docs/bench/r14_before_sf0.1.json
    # and the delta is documented in OPTIMIZATION_r11.md.

    cold: dict[str, float] = {}
    times: dict[str, float] = {}
    shuffles: dict[str, int] = {}
    for name, fn in headline.items():
        keep = getattr(fn, "keeps_session_cache", False)
        t0 = time.time()
        df = fn(spark, sf_dir)
        _force(df)
        cold[name] = round(time.time() - t0, 3)
        # shuffle inventory from the executed plan (measure, don't
        # guess): the count a reviewer would pull out of .explain
        try:
            from syzgydb_spark.plans import scale_report

            shuffles[name] = scale_report(df)["n_shuffles"]
        except Exception:
            pass
        if not keep:
            release_cached(df)
        warm = []
        for _ in range(2):
            t0 = time.time()
            wdf = fn(spark, sf_dir)
            _force(wdf)
            warm.append(time.time() - t0)
            if not keep:
                release_cached(wdf)
        times[name] = round(min(warm), 3)
    return times, cold, shuffles


def main():
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--out",
        default=None,
        help="also write the result JSON object to this file (the driver's "
        "stdout capture truncated mid-object in round 3; a file sidesteps "
        "pipe-buffer truncation)",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of headline query names to run "
        "(e.g. the document-bound set against a documents-only sf dir)",
    )
    cli = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # "sf0.1" and "testdata_sf1" both parse; unknown layouts report 0
    m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.0
    spark = get_spark(app_name="syzgydb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/readers once so the numbers measure the queries,
    # not session startup (partial sf dirs — e.g. the documents-only
    # sf3 decade — only carry some tables)
    for t in ("lineitem", "embeddings", "documents"):
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            E._t(spark, sf_dir, t).count()

    # warm the per-core Python workers too: the first Arrow stage in a
    # session pays one numpy+pandas import per core (a ~32-process
    # import storm on local[32]) plus first-use JVM Arrow-runner setup
    # per eval shape; a long-lived cluster never re-pays either, so
    # they belong outside the per-query timings. The warmup is generic
    # (synthetic rows, no query logic): a scalar long UDF and a
    # struct-of-arrays UDF over strings — the two Arrow shapes the
    # engine uses.
    n = spark.sparkContext.defaultParallelism

    @F.pandas_udf("long")
    def _warm(s):
        import numpy as np  # noqa: F401  (import cost is the point)

        return s

    @F.pandas_udf("struct<xs: array<long>, ys: array<long>>")
    def _warm_struct(s):
        import numpy as np
        import pandas as pd

        vals = [np.array([len(x or "")], dtype=np.int64) for x in s]
        return pd.DataFrame({"xs": vals, "ys": vals})

    warm_df = spark.range(n * 8).repartition(n).select(
        F.col("id"), F.format_string("w%d", "id").alias("s")
    )
    _force(warm_df.select(_warm("id")))
    _force(warm_df.select(_warm_struct("s")))

    only = set(cli.queries.split(",")) if cli.queries else None
    queries, cold, shuffles = bench_queries(spark, sf_dir, only=only)
    total = round(sum(queries.values()), 3)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "cold_run_queries": cold,
        "cold_run_total": round(sum(cold.values()), 3),
        "n_shuffles": shuffles,
        "sf": sf,
    }
    line = json.dumps(result)
    print(line)
    if cli.out:
        with open(cli.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
