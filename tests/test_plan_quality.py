"""Physical-plan assertions: the engine must *stay* optimizer-friendly.

These lock in the scale-critical plan properties: predicate pushdown
into parquet scans, column pruning, broadcast joins for dim tables,
TakeOrderedAndProject for top-k, and no Python eval in JVM-expression
paths. A regression here is a 100TB performance bug even when results
stay correct.
"""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from syzgydb_spark.operators.knn import search
from syzgydb_spark.query.compiler import where_filter


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter(spark, sf_dir):
    df = E.q_point_lookup(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(vec_id,123)" in plan.replace(" ", "").replace("123)", "123)")


def test_column_pruning(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # the scan must read exactly the projected columns
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_revenue_join_broadcasts_nation(spark, sf_dir):
    plan = _plan(E.q_revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_knn_topk_is_take_ordered(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    plan = _plan(search(emb, [0.0] * 64, k=5))
    assert "TakeOrderedAndProject" in plan


def test_filter_language_no_python(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "metadata", F.to_json(F.struct("lang", "n_chars"))
    )
    out = where_filter(ev, "lang == 'en' AND n_chars > 200")
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_distance_functions_no_python(spark, sf_dir):
    from syzgydb_spark.functions.vector import cosine_distance

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = emb.select(cosine_distance("embedding", F.lit([0.1] * 64).cast("array<double>")))
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_signature_no_python(spark, sf_dir):
    from syzgydb_spark.operators.dedup import minhash_signature

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(docs.select(minhash_signature("text", num_hashes=16, shingle_n=2)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_knn_join_no_cartesian(spark, sf_dir):
    plan = _plan(E.q_ann_knn_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_pair_joins_no_cartesian(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from syzgydb_spark.operators.dedup import minhash_near_duplicates

    plan = _plan(minhash_near_duplicates(docs, shingle_n=2, threshold=0.5))
    assert "CartesianProduct" not in plan


def test_no_cartesian_anywhere(registry_dfs):
    """Blanket guarantee over the ENTIRE driver contract: no query's
    physical plan contains an unbroadcast cartesian product, and the
    only broadcast product is the brute-force KNN baseline, whose
    definition IS the broadcast N×Q product (knn_join docstring;
    knn_join_fast / LSH / IVF are the scale paths)."""
    import __spark_entry__ as E

    brute_by_design = {
        "knn_join_topk",
        # negative mining broadcasts the anchor set (same contract);
        # MMR re-ranks the brute baseline's bounded top-20 candidates
        "hard_negatives",
        "mmr_rerank",
    }
    # a broadcast product whose broadcast side is ONE row (aggregated
    # corpus constants, e.g. BM25's (n_docs, avgdl)) is the standard
    # constants-join shape — cost is a row append per partition, not a
    # product; allowlisted per query with the 1-row side named
    single_row_constants = {
        "bm25_search",
        "hybrid_rank_fusion",
        # one-row scalar relations: LM normalizer + OOV mass, DSIR
        # histogram totals, mixture weight normalizer
        "lm_perplexity",
        "bigram_perplexity",
        "dsir_weights",
        "mixture_plan",
        "temperature_mixture",
        # one-row n_docs relation for the IDF term
        "tfidf_top_terms",
        # one-row scalar via the shared unigram-LM scorer
        "perplexity_bands",
        # one-row (cut, dec_total) scalars of the bounded MG merge
        "frequent_terms",
        # same bounded MG merge, read back through the compacted store
        "mg_compacted_counts",
    }
    for name, df in registry_dfs.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        if name not in brute_by_design | single_row_constants:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """sources/bucketed.py contract: two tables bucketed on the join
    key join WITHOUT any Exchange (and, being sorted, without extra
    Sort) — the co-located-join layout for repeatedly-joined relations."""
    import io
    from contextlib import redirect_stdout

    from syzgydb_spark.sources.bucketed import read_bucketed, save_bucketed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.select("vec_id", "embedding")
    right = emb.select("vec_id", F.size("embedding").alias("dims"))
    save_bucketed(left, "bt_left", keys="vec_id", buckets=8,
                  sort="vec_id", path=str(tmp_path / "bt_left"))
    save_bucketed(right, "bt_right", keys="vec_id", buckets=8,
                  sort="vec_id", path=str(tmp_path / "bt_right"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the merge-join path: at test scale the small side would
        # broadcast, which hides the layout property under test (at
        # 100 TB neither fact side broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, "bt_left").join(
            read_bucketed(spark, "bt_right"), "vec_id"
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == emb.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_lm_perplexity_broadcasts_vocab(spark, sf_dir):
    """The vocab join must be map-side (BroadcastHashJoin), never a
    shuffled join on the token column."""
    plan = _plan(E.q_lm_perplexity(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_dsir_weights_broadcasts_histogram(spark, sf_dir):
    plan = _plan(E.q_dsir_weights(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_semdedup_single_exchange(spark, sf_dir):
    """The fused arrow kernel needs exactly one Exchange (the groupBy
    on the INT cell key) — no window exchange, no pair-join exchange."""
    plan = _plan(E.q_semdedup(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan


def test_stratified_fixed_sample_filters_before_window(spark, sf_dir):
    """The md5-threshold candidate filter must run below the ranking
    window, so the window's sort sees ~oversample*k rows per stratum,
    not the whole stratum."""
    plan = _plan(E.q_stratified_fixed_sample(spark, sf_dir))
    wpos = plan.find("Window")
    assert wpos > 0
    below = plan[wpos:]
    # the threshold comparison (against the md5 hash cast to double)
    # appears in the subtree UNDER the window operator
    assert "conv(substring(md5" in below, below[:2000]


def test_sessionize_single_shuffle(spark, sf_dir):
    from syzgydb_spark.operators.temporal import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(sessionize(ev, key="user_id", ts="ts", gap="1 hour"))
    assert plan.count("Exchange") == 1, plan


def test_fingerprint_store_probe_store_side_never_shuffles(spark, sf_dir, tmp_path):
    """Incremental exact dedup against the persisted bucketed
    fingerprint store: the probe's plan may exchange ONLY the new
    batch (into the store's bucketing); the store side reads
    co-partitioned and pre-sorted straight off disk. Result must equal
    dedup_against (the recompute-everything form), and appended
    batches must keep both properties."""
    import io
    from contextlib import redirect_stdout

    from syzgydb_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where("doc_id % 3 != 0")
    # the batch: the genuinely-new docs plus planted re-crawls of
    # corpus docs (doc_id < 60, % 3 != 0) that must be dropped — ONE
    # relation, so the probe plan has exactly one batch-side scan
    batch = docs.where("doc_id % 3 = 0 OR doc_id < 60")
    DD.build_fingerprint_store(
        corpus, "fp_store", buckets=8, path=str(tmp_path / "fp_store")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        kept = DD.dedup_against_store(spark, batch, "fp_store")
        buf = io.StringIO()
        with redirect_stdout(buf):
            kept.explain("formatted")
        plan = buf.getvalue()
        # formatted output lists each operator twice (tree + detail
        # section): count the detail headers
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        # the store-side scan must feed the join below the single
        # exchange: the scan of the bucketed table appears with
        # SelectedBucketsCount (bucketed read) in the formatted plan
        assert "SelectedBucketsCount" in plan, plan

        expect = sorted(
            r["doc_id"] for r in DD.dedup_against(batch, corpus).collect()
        )
        assert sorted(r["doc_id"] for r in kept.collect()) == expect

        # fold the accepted batch in; a re-crawl of it now dedups to zero
        DD.update_fingerprint_store(spark, kept, "fp_store")
        again = DD.dedup_against_store(spark, batch, "fp_store")
        assert again.count() == 0
        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            again.explain("formatted")
        assert len(re.findall(r"\(\d+\) Exchange", buf2.getvalue())) == 1, buf2.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS fp_store")


def test_line_store_probe_store_side_never_shuffles(spark, sf_dir, tmp_path):
    """Incremental line dedup against the persisted bucketed
    line-count store: the store side aggregates AND joins inside its
    bucketed layout (no Exchange); only batch-sized relations shuffle.
    Semantics: a line reaching min_count across store+batch is removed
    from the new batch."""
    import io
    from contextlib import redirect_stdout

    from syzgydb_spark.operators import dedup as DD

    boiler = "this boilerplate footer line appears in many documents"
    b1 = spark.createDataFrame(
        [(1, f"first doc unique content line\n{boiler}"),
         (2, "second doc has only its own line")],
        "doc_id LONG, text STRING",
    )
    b2 = spark.createDataFrame(
        [(10, f"third doc new content here\n{boiler}"),
         (11, "fourth doc also brand new line")],
        "doc_id LONG, text STRING",
    )
    DD.build_line_store(b1, "line_store", buckets=4, path=str(tmp_path / "ls"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = DD.line_dedup_against_store(spark, b2, "line_store", min_count=2)
        rows = {r["doc_id"]: r for r in out.collect()}
        # boiler seen once in store + once in batch → removed from 10
        assert rows[10]["clean_text"] == "third doc new content here"
        assert rows[10]["n_removed_lines"] == 1
        assert rows[11]["n_removed_lines"] == 0

        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "SelectedBucketsCount" in plan, plan  # bucketed store read
        # the invariant: NO Exchange sits between the store scan and
        # its aggregate/join — walk up from the store scan's tree line
        # to the enclosing join and assert no Exchange on that path
        # (batch-side relations may shuffle freely)
        tree = plan.split("== Final Plan ==")[-1]
        lines_ = tree.splitlines()
        scan_i = next(
            i for i, l in enumerate(lines_) if "line_store" in l and "Scan" in l
        )
        def _depth(l):
            return len(l) - len(l.lstrip(" :+-*"))

        # ancestor walk: a line is the next ancestor iff strictly
        # shallower than the current one (sibling subtrees print above
        # at >= depth and must be skipped)
        cur = _depth(lines_[scan_i])
        for j in range(scan_i - 1, -1, -1):
            if _depth(lines_[j]) >= cur:
                continue
            cur = _depth(lines_[j])
            if "SortMergeJoin" in lines_[j] or "BroadcastHashJoin" in lines_[j]:
                break  # reached the probe join: path was clean
            assert "Exchange" not in lines_[j], plan

        # fold batch 2 in: a third sighting is now removed immediately
        DD.update_line_store(spark, b2, "line_store")
        b3 = spark.createDataFrame(
            [(20, f"{boiler}\nfifth doc fresh line of text")],
            "doc_id LONG, text STRING",
        )
        again = DD.line_dedup_against_store(spark, b3, "line_store", min_count=3)
        r20 = again.collect()[0]
        assert r20["clean_text"] == "fifth doc fresh line of text"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS line_store")


def test_bm25_store_serving_plan(spark, sf_dir, tmp_path):
    """The BM25 serving shape: scoring against the persisted
    term-bucketed posting store must read the store WITHOUT an
    Exchange below the per-term aggregation (the bucketed layout IS
    the partitioning), and the whole scoring plan stays within 3
    shuffles — the one-shot inline-index build pays ~16. Results must
    equal the inline form exactly."""
    from syzgydb_spark.operators.bm25 import (
        bm25_score,
        bm25_search,
        build_bm25_store,
        read_bm25_store,
    )
    from syzgydb_spark.plans import scale_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = "table scan merge window hash"
    build_bm25_store(
        docs, "bm25_plan_t", buckets=8, path=str(tmp_path / "bm25_store")
    )
    postings, stats = read_bm25_store(spark, "bm25_plan_t")
    served = bm25_score(postings, stats, q, k=10)
    inline = bm25_search(docs, q, k=10)
    # rounded: the contrib sum's partition order differs between the
    # bucketed and inline layouts (1-ulp float drift)
    assert [(r["doc_id"], round(r["score"], 9)) for r in served.collect()] == [
        (r["doc_id"], round(r["score"], 9)) for r in inline.collect()
    ]

    rep = scale_report(served)
    assert rep["n_shuffles"] <= 3, rep
    # the per-term df aggregation must land on the bucketed scan with
    # no Exchange in between: in the executed plan, no Exchange
    # appears below the first HashAggregate over the store relation
    plan = _plan(served)
    # find the store-scan subtree: FileScan on the bucketed table
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan


def test_save_bucketed_overwrites_orphan_location(spark):
    """A managed-table directory left behind by a DEAD session (the
    in-memory catalog forgot the table; its warehouse files remain)
    must not fail the next overwrite-mode save with
    LOCATION_ALREADY_EXISTS — save_bucketed clears the orphan. A table
    the catalog KNOWS is never touched by the clearing path (overwrite
    handles it natively)."""
    import os

    from syzgydb_spark.sources.bucketed import read_bucketed, save_bucketed

    warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    orphan = os.path.join(warehouse, "bt_orphan")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "stale.parquet"), "w") as f:
        f.write("not a real parquet file")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    try:
        save_bucketed(df, "bt_orphan", keys="k", buckets=4)
        assert read_bucketed(spark, "bt_orphan").count() == 10
        # second overwrite (table now registered) also succeeds
        save_bucketed(df.where(F.col("k") < 5), "bt_orphan", keys="k", buckets=4)
        assert read_bucketed(spark, "bt_orphan").count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_orphan")


def test_cc_hot_key_engages_aqe_skew_split(spark):
    """SCALE.md's claim that a mega duplicate-cluster is "just a hot
    groupBy key (AQE-splittable)" — pinned for real (r9 verdict #4).
    A 30k-member star cluster makes one label-propagation join key
    carry ~all edges; in the exact relation shape duplicate_groups
    runs (BOTH sides localCheckpointed, so the SMJ's children are
    fresh ENSURE_REQUIREMENTS exchanges — the Sort(ShuffleStage)
    pattern OptimizeSkewedJoin requires), AQE must mark the join
    skew=true and split the hot partition. Thresholds are scaled to
    the local data size; at 100 TB the 256 MB defaults trip on their
    own — same rule, same plan. Also asserts the CC result itself:
    one component, min-id label."""
    from syzgydb_spark.operators.dedup import duplicate_groups

    n = 30_000
    old = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    )}
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pairs = spark.range(1, n, 1, 16).select(
            F.col("id").alias("id_a"), F.lit(0).cast("long").alias("id_b"))
        # the hot join of the propagation round, in loop shape
        edges = pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).localCheckpoint()
        labels = edges.select(F.col("dst").alias("node")).distinct().select(
            "node", F.col("node").alias("label")).localCheckpoint()
        j = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), "label")
        assert len(j.collect()) == n - 1
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        # and the full operator survives the hot key with the right answer
        groups = duplicate_groups(pairs)
        assert groups.where(F.col("group_id") != 0).count() == 0
        assert groups.count() == n
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_expensive_kernels_evaluate_once(spark, sf_dir):
    """r10 optimization class pin: a filter on a pandas-UDF output
    column makes the optimizer DUPLICATE the ArrowEvalPython node
    below the pushed filter (it copies, not moves, the evaluation),
    so every row paid the kernel twice. The expensive kernels are
    marked nondeterministic to pin a single evaluation site; this
    asserts each hot plan carries exactly one eval of its kernel.

    The executed plan prints both the AQE-final and initial variants
    of a cached subtree, so we count evals in the FIRST plan variant
    only (up to the second 'AdaptiveSparkPlan' marker) — physical
    execution runs one of them.
    """
    from syzgydb_spark.operators import dedup as DD
    from syzgydb_spark.operators.tokenizer import WordpieceVocab, tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)

    def n_evals(df, kernel):
        plan = df._jdf.queryExecution().executedPlan().toString()
        first = plan.split("+- == Initial Plan ==")[0]
        return len(re.findall(rf"\[{kernel}\(", first))

    # winnowing: md5 + sliding-min kernel
    wf = DD.winnow_fingerprints(docs)
    assert n_evals(wf, "_winnow") == 1, _plan(wf)

    # wordpiece segmentation kernel
    vocab = WordpieceVocab(
        pieces=sorted([("the", False), ("a", False), ("t", True), ("s", True)])
    )
    tok = tokenize(docs, vocab).where(F.size("wp_tokens") > 0)
    assert n_evals(tok, "seg") == 1, _plan(tok)

    # minhash signature kernel (inside the cached relation)
    res = DD.minhash_near_duplicates(
        docs, num_hashes=16, bands=4, shingle_n=2, threshold=0.5, hash_fn="md5"
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    cached = plan.split("InMemoryRelation")[1] if "InMemoryRelation" in plan else plan
    first = cached.split("+- == Initial Plan ==")[0]
    assert len(re.findall(r"\[_f\(", first)) <= 1, plan

    # cosine verify kernel
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500)
    nd = DD.embedding_near_duplicates(emb, max_distance=0.2, num_tables=2, num_planes=4)
    assert n_evals(nd, "_cos") == 1, _plan(nd)


def test_shingle_expression_evaluates_once(spark, sf_dir):
    """JVM analog of the §4.4 duplication, pinned for the expr-branch
    minhash front-ends (the library-default xxhash64 configs and the
    streaming bounded-state sig front-end): a where(size(hs) > 0) on
    the PROJECTED shingle column was rewritten below the _spread
    exchange with a full copy of the shingle+hash expression, so every
    document paid shingling + per-shingle hashing twice per cache
    fill. The equivalent cheap pre-filter (token count ≥ shingle_n,
    on the raw text) leaves exactly ONE evaluation of the hash in the
    fill plan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)

    def n_hash_evals(persisted_df, marker):
        plan = persisted_df._jdf.queryExecution().executedPlan().toString()
        cached = (
            plan.split("InMemoryRelation")[1]
            if "InMemoryRelation" in plan
            else plan
        )
        first = cached.split("+- == Initial Plan ==")[0]
        return first.count(marker)

    from syzgydb_spark.operators import dedup as DD

    # _minhash_keyed expr branch (any non-(arrow+md5) config)
    hs, _ = DD._minhash_keyed(
        docs, "text", "doc_id", num_hashes=16, bands=4, shingle_n=3,
        seed=42, hash_fn="xxhash64", impl="arrow",
    )
    try:
        assert n_hash_evals(hs, "xxhash64(") == 1
    finally:
        hs._persisted_src.unpersist()

    # _minhash_sig_keyed (streaming bounded-state front-end, every config)
    sig, _ = DD._minhash_sig_keyed(
        docs, "text", "doc_id", num_hashes=16, bands=4, shingle_n=3,
        seed=42, hash_fn="md5", impl="arrow",
    )
    try:
        # band keys also use md5 but live above the persisted sig, not
        # in the fill plan; the fill itself must hash shingles once
        assert n_hash_evals(sig, "md5(") == 1
    finally:
        sig._persisted_src.unpersist()


def test_only_serving_entries_keep_their_session_cache():
    """bench.py keeps the session cache of the registry entries that
    declare ``keeps_session_cache`` and releases every other entry's
    owned caches after each timed run."""
    kept = {n for n, fn in E.queries().items()
            if getattr(fn, "keeps_session_cache", False)}
    assert kept == {"minhash_near_dups"}
