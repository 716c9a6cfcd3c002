"""The examples/crawl_wave.py composition: wave-proportional
incremental ingestion must dedup each wave against EVERYTHING already
accepted (via the stores, never a corpus re-scan), stay exactly-once
under re-runs, and keep answering identically across store
compaction. Each member operator has its own tests; this pins the
cross-operator contracts (raw-text store keys vs post-cut corpus
text, Bloom routing vs exact probe, ledger no-op re-runs)."""

import os
import sys
import uuid

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from examples.crawl_wave import _demo_segment, _store_paths, run_wave

BODY = ("the quick brown fox jumps over the lazy dog and then "
        "writes a long enough paragraph about it to pass the gate ")
BOILER = "subscribe to our newsletter for more of this content"


def _doc(tag):
    return f"{BODY}{tag}\n{BOILER}"


def _kw():
    u = uuid.uuid4().hex[:8]
    return dict(fingerprint_table=f"cw_fp_{u}", line_table=f"cw_ln_{u}",
                min_words=5, min_line_chars=20)


def _drop(spark, kw):
    spark.sql(f"DROP TABLE IF EXISTS {kw['fingerprint_table']}")
    spark.sql(f"DROP TABLE IF EXISTS {kw['line_table']}")


def test_three_waves_dedup_and_exactly_once(spark, tmp_path):
    work = str(tmp_path / "work")
    p = _store_paths(work)
    os.makedirs(p["segments"])
    kw = _kw()

    _demo_segment(os.path.join(p["segments"], "w1.warc"),
                  [(f"http://a/{i}", _doc(f"page {i}")) for i in range(6)])
    r1 = run_wave(spark, work, **kw)
    assert (r1["wave_docs"], r1["accepted"]) == (6, 6)

    # wave 2: 3 exact repeats (different URIs — content-keyed dedup
    # must catch them) + 3 fresh
    _demo_segment(
        os.path.join(p["segments"], "w2.warc"),
        [(f"http://b/{i}", _doc(f"page {i}")) for i in range(3)]
        + [(f"http://b/n{i}", _doc(f"fresh {i}")) for i in range(3)])
    r2 = run_wave(spark, work, **kw)
    assert r2["accepted"] == 3
    # Bloom has no false negatives: every repeat must have routed to
    # the exact probe (bloom_skipped counts only definite-new rows)
    assert r2["bloom_skipped"] <= 3

    # wave 3: all repeats of earlier WAVES (1 and 2) but one
    _demo_segment(
        os.path.join(p["segments"], "w3.warc"),
        [(f"http://c/{i}", _doc(f"fresh {i}")) for i in range(3)]
        + [("http://c/solo", _doc("only wave three"))])
    r3 = run_wave(spark, work, **kw)
    assert r3["accepted"] == 1

    corpus = spark.read.parquet(p["corpus"])
    assert corpus.count() == 10
    # boilerplate was cut from every accepted doc after wave 1's
    # line counts established it (wave-1 docs carry it 6x themselves)
    texts = [r["text"] for r in corpus.collect()]
    assert not any(BOILER in t for t in texts)

    # exactly-once: re-run with no new segments is a no-op
    rr = run_wave(spark, work, **kw)
    assert rr["noop"] and rr["accepted"] == 0
    assert spark.read.parquet(p["corpus"]).count() == 10
    _drop(spark, kw)


def test_wave_after_compaction_answers_identically(spark, tmp_path):
    """Compacting every store mid-stream must not change any later
    wave's accept/reject decisions."""
    work = str(tmp_path / "work")
    p = _store_paths(work)
    os.makedirs(p["segments"])
    kw = _kw()

    _demo_segment(os.path.join(p["segments"], "w1.warc"),
                  [(f"http://a/{i}", _doc(f"page {i}")) for i in range(4)])
    run_wave(spark, work, **kw)
    _demo_segment(os.path.join(p["segments"], "w2.warc"),
                  [(f"http://b/x", _doc("second wave"))])
    r2 = run_wave(spark, work, compact=True, **kw)
    assert r2["accepted"] == 1
    assert r2["compacted"]["bloom"] == 2  # build + wave-2 delta folded
    assert r2["compacted"]["qs"] == 2

    # wave 3 probes the COMPACTED stores: repeats of both prior waves
    # must still be rejected, fresh must still pass
    _demo_segment(
        os.path.join(p["segments"], "w3.warc"),
        [("http://c/r1", _doc("page 2")), ("http://c/r2", _doc("second wave")),
         ("http://c/f", _doc("post compact fresh"))])
    r3 = run_wave(spark, work, **kw)
    assert r3["accepted"] == 1
    assert spark.read.parquet(p["corpus"]).count() == 6
    # the distribution store tracked every accepted wave: its folded
    # weight equals the corpus size (4 + 1 + 1), across compaction
    from syzgydb_spark.operators.quantiles import read_quantile_store

    assert sum(r["weight"] for r in
               read_quantile_store(spark, _store_paths(work)["qs"]).collect()) == 6
    _drop(spark, kw)


def test_bloom_hit_survivors_reach_every_store(spark, tmp_path):
    """A fresh doc the Bloom gate flags (a false positive) passes the
    exact fingerprint probe and must be folded into EVERY store, not
    just the fingerprint store. ``bloom_bits=1`` makes every probe a
    hit, so every survivor takes the exact-probe route."""
    from pyspark.sql import functions as F

    from syzgydb_spark.operators.quantiles import read_quantile_store
    from syzgydb_spark.operators.sketch import read_mg_store

    work = str(tmp_path / "work")
    p = _store_paths(work)
    os.makedirs(p["segments"])
    kw = _kw()

    _demo_segment(os.path.join(p["segments"], "w1.warc"),
                  [(f"http://a/{i}", _doc(f"page {i}")) for i in range(4)])
    run_wave(spark, work, bloom_bits=1, **kw)
    _demo_segment(os.path.join(p["segments"], "w2.warc"),
                  [("http://b/x", _doc("zanzibarquokka"))])
    r2 = run_wave(spark, work, bloom_bits=1, **kw)
    assert (r2["accepted"], r2["dedup_survivors"], r2["bloom_skipped"]) == (1, 1, 0)

    assert spark.read.parquet(p["corpus"]).count() == 5
    assert sum(r["weight"] for r in
               read_quantile_store(spark, p["qs"]).collect()) == 5
    terms = {r["term"] for r in read_mg_store(spark, p["mg"]).collect()}
    assert "zanzibarquokka" in terms
    # two eligible lines per doc (body line + boilerplate line), 5 docs
    assert spark.table(kw["line_table"]).agg(F.sum("n")).first()[0] == 10
    _drop(spark, kw)


def _cached_plans(spark) -> int:
    """How many plans the session's CacheManager holds (its private
    ``cachedData`` sequence, read by reflection)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_waves_release_every_cached_relation(spark, tmp_path):
    """Neither the bootstrap wave nor an incremental wave leaves a
    relation cached. Compared before/after, since the test session is
    shared with other tests."""
    work = str(tmp_path / "work")
    p = _store_paths(work)
    os.makedirs(p["segments"])
    kw = _kw()

    _demo_segment(os.path.join(p["segments"], "w1.warc"),
                  [(f"http://a/{i}", _doc(f"page {i}")) for i in range(4)])
    before = _cached_plans(spark)
    run_wave(spark, work, **kw)
    assert _cached_plans(spark) == before

    _demo_segment(os.path.join(p["segments"], "w2.warc"),
                  [("http://b/0", _doc("page 0")), ("http://b/x", _doc("new"))])
    r2 = run_wave(spark, work, **kw)
    assert r2["accepted"] == 1
    assert _cached_plans(spark) == before
    _drop(spark, kw)
