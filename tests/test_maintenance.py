"""Store compaction: fold-equivalence (a compacted store answers every
probe identically, including error bounds), crash-window behavior at
each commit point, replay exclusion via the superseded-token manifest,
and the bucketed-table swap + recovery protocol."""

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from syzgydb_spark.operators.bloom import (
    build_bloom_store,
    probe_bloom_store,
    read_bloom_store,
    update_bloom_store,
)
from syzgydb_spark.operators.maintenance import (
    compact_bloom_store,
    compact_fingerprint_store,
    compact_line_store,
    compact_mg_store,
    live_mg_tokens,
    superseded_mg_tokens,
)
from syzgydb_spark.operators.sketch import (
    build_mg_store,
    read_mg_store,
    update_mg_store,
)


def _terms(spark, items):
    return spark.createDataFrame([(t,) for t in items], "term string")


def _batch_dirs(path):
    return sorted(d for d in os.listdir(path) if d.startswith("batch="))


class _SummedStore:
    """One API over the two manifest-compacted (summed) stores. Items
    are one-letter terms; the quantile store holds each as the float
    ``ord(letter)``, and ``state`` reads both back as ``{term: (count,
    err_bound)}`` (quantile: weight and 0 — capacities here keep it in
    the exact regime)."""

    def __init__(self, spark, kind):
        from syzgydb_spark.operators import quantiles as qs
        from syzgydb_spark.operators import sketch as mg

        self.spark, self.kind = spark, kind
        if kind == "mg":
            self.build, self.ensure, self.update = (
                mg.build_mg_store, mg.ensure_mg_store, mg.update_mg_store)
            self.read, self.compact = mg.read_mg_store, compact_mg_store
        else:
            self.build, self.ensure, self.update = (
                qs.build_quantile_store, qs.ensure_quantile_store,
                qs.update_quantile_store)
            self.read = qs.read_quantile_store
            self.compact = qs.compact_quantile_store

    def df(self, items):
        if self.kind == "mg":
            return _terms(self.spark, items)
        return self.spark.createDataFrame(
            [(float(ord(t)),) for t in items], "term double")

    def state(self, path):
        rows = self.read(self.spark, path).collect()
        if self.kind == "mg":
            return {r["term"]: (r["est_count"], r["err_bound"]) for r in rows}
        return {chr(int(r["value"])): (r["weight"], 0) for r in rows}


@pytest.fixture(params=["mg", "quantile"])
def summed(spark, request):
    return _SummedStore(spark, request.param)


# ------------------------------------------------------------------- Bloom


def test_bloom_compaction_preserves_probe_and_folds_dirs(spark, tmp_path):
    path = str(tmp_path / "bloom")
    build_bloom_store(_terms(spark, [f"seen{i}" for i in range(50)]),
                      "term", path, n_bits=1 << 14, n_hashes=5)
    for w in range(4):
        update_bloom_store(
            _terms(spark, [f"wave{w}_{i}" for i in range(20)]), "term", path)
    probe = _terms(spark, ["seen3", "wave2_7", "wave0_0", "neverseen_xyz"])
    before = {r["term"]: r["bloom_hit"] for r in probe_bloom_store(
        probe, path, "term", id_col="term").collect()}
    words_before = {r["word_idx"]: r["word"]
                    for r in read_bloom_store(spark, path)[0].collect()}

    assert compact_bloom_store(spark, path) == 5
    assert len(_batch_dirs(path)) == 1
    after = {r["term"]: r["bloom_hit"] for r in probe_bloom_store(
        probe, path, "term", id_col="term").collect()}
    words_after = {r["word_idx"]: r["word"]
                   for r in read_bloom_store(spark, path)[0].collect()}
    assert after == before
    assert words_after == words_before  # bit-identical fold
    # already-compact store is a no-op
    assert compact_bloom_store(spark, path) == 0


def test_bloom_updates_after_compaction_keep_working(spark, tmp_path):
    path = str(tmp_path / "bloom")
    build_bloom_store(_terms(spark, ["a", "b"]), "term", path,
                      n_bits=1 << 12, n_hashes=4)
    compact_bloom_store(spark, path)  # no-op (1 dir)
    update_bloom_store(_terms(spark, ["c"]), "term", path)
    assert compact_bloom_store(spark, path) == 2
    got = {r["term"]: r["bloom_hit"] for r in probe_bloom_store(
        _terms(spark, ["a", "c", "zz_fresh"]), path, "term",
        id_col="term").collect()}
    assert got["a"] and got["c"]


def test_bloom_crash_after_commit_is_bit_identical(spark, tmp_path):
    """The crash window between the rename commit and the source
    deletes leaves BOTH the compacted delta and its sources; the OR
    fold must be bit-identical (idempotence is the safety proof)."""
    path = str(tmp_path / "bloom")
    build_bloom_store(_terms(spark, [f"k{i}" for i in range(100)]),
                      "term", path, n_bits=1 << 14, n_hashes=5)
    update_bloom_store(_terms(spark, ["extra1", "extra2"]), "term", path)
    words = {r["word_idx"]: r["word"]
             for r in read_bloom_store(spark, path)[0].collect()}
    # simulate the window: duplicate every delta under a compact token
    # (what a crash right after the rename would leave behind)
    for d in _batch_dirs(path):
        shutil.copytree(os.path.join(path, d),
                        os.path.join(path, f"batch=compact-{uuid.uuid4().hex[:8]}"))
    dup = {r["word_idx"]: r["word"]
           for r in read_bloom_store(spark, path)[0].collect()}
    assert dup == words
    # and the next compaction folds the leftovers away
    assert compact_bloom_store(spark, path) == 4
    assert len(_batch_dirs(path)) == 1


# -------------------------------------------------------------- Misra-Gries


def _mg_state(spark, path):
    return {r["term"]: (r["est_count"], r["err_bound"])
            for r in read_mg_store(spark, path).collect()}


def test_mg_compaction_exact_regime(spark, tmp_path):
    path = str(tmp_path / "mg")
    build_mg_store(_terms(spark, ["a"] * 5 + ["b"] * 3), "term", path,
                   capacity=64)
    update_mg_store(_terms(spark, ["a"] * 2 + ["c"] * 7), "term", path)
    update_mg_store(_terms(spark, ["b"] * 4), "term", path)
    before = _mg_state(spark, path)
    assert before == {"a": (7, 0), "b": (7, 0), "c": (7, 0)}

    assert compact_mg_store(spark, path) == 3
    assert len(live_mg_tokens(spark, path)) == 1
    assert _mg_state(spark, path) == before
    # no-op when already compact
    assert compact_mg_store(spark, path) == 0


def test_mg_compaction_preserves_err_bound_in_lossy_regime(spark, tmp_path):
    """Compaction must not tighten or loosen the guarantee: estimates
    AND err_bound identical before/after (same fold, same cut)."""
    path = str(tmp_path / "mg")
    items0 = ["hot"] * 40 + [f"u{i}" for i in range(30)]
    items1 = ["hot"] * 25 + [f"v{i}" for i in range(30)]
    build_mg_store(_terms(spark, items0), "term", path, capacity=8)
    update_mg_store(_terms(spark, items1), "term", path)
    before = _mg_state(spark, path)
    assert before  # sketch retained the hot item
    assert compact_mg_store(spark, path) == 2
    assert _mg_state(spark, path) == before


def test_mg_compaction_bound_survives_empty_fold(spark, tmp_path):
    """When every merged estimate falls at or below the fold's cut
    (near-uniform terms over capacity), the compacted delta has NO
    term rows — but its carrier must still record err_bound =
    dec_total + cut, not 0, or the est ≤ true ≤ est + err_bound
    contract breaks for every later read (r7 advice)."""
    path = str(tmp_path / "mg")
    # capacity 2, four singleton terms across two deltas: the fold's
    # cut is the 3rd-largest estimate (1), so every term drops
    build_mg_store(_terms(spark, ["a", "b"]), "term", path, capacity=2)
    update_mg_store(_terms(spark, ["c", "d"]), "term", path)
    assert compact_mg_store(spark, path) == 2
    # the compacted carrier row holds the fold's bound (0 decrements +
    # cut 1), not the empty-relation aggregate 0
    [tok] = live_mg_tokens(spark, path)
    delta = spark.read.parquet(os.path.join(path, f"batch={tok}")).collect()
    carrier = [r for r in delta if r["term"] is None]
    assert len(delta) == 1 and carrier[0]["err_bound"] == 1
    # end-to-end: a later wave's estimate must still bracket the truth
    # ("a" appeared once pre-compaction → true 6, est 5, bound 1)
    update_mg_store(_terms(spark, ["a"] * 5), "term", path)
    est, err = _mg_state(spark, path)["a"]
    assert est <= 6 <= est + err


def test_mg_replayed_superseded_token_raises(summed, tmp_path):
    """Writing under an already-compacted stable token RAISES: the
    write would be silently excluded from every fold, which is correct
    for a true replay (its counts live in the compacted delta) but
    silent data loss for a stream restarted with a fresh checkpoint
    whose batch ids restarted at 0. The store cannot tell the two
    apart, so it refuses and the error names the fix (new namespace).
    The read-side manifest exclusion itself is covered by
    test_mg_manifest_is_transitive (resurrection bypassing the API)."""
    st, path = summed, str(tmp_path / "st")
    st.build(st.df(["x"] * 3), "term", path, capacity=32)
    st.update(st.df(["x"] * 2), "term", path, token="stable-1")
    assert st.state(path)["x"] == (5, 0)
    st.compact(st.spark, path)
    assert "stable-1" in superseded_mg_tokens(st.spark, path)
    with pytest.raises(ValueError, match="namespace"):
        st.update(st.df(["x"] * 2), "term", path, token="stable-1")
    assert st.state(path)["x"] == (5, 0)  # store unchanged
    # a NOT-yet-compacted stable token still overwrites in place (the
    # replay-idempotence contract is untouched pre-compaction)
    st.update(st.df(["y"] * 2), "term", path, token="live-1")
    st.update(st.df(["y"] * 2), "term", path, token="live-1")
    assert st.state(path)["y"] == (2, 0)


def test_mg_manifest_is_transitive(summed, tmp_path):
    """gen-2 compaction inherits gen-1's manifest, so a gen-1 source
    resurrected AFTER the gen-1 compact dir is gone stays excluded."""
    st, path = summed, str(tmp_path / "st")
    st.build(st.df(["a"] * 4), "term", path, capacity=32)
    st.update(st.df(["b"] * 6), "term", path, token="w1")
    # keep a copy of the w1 delta to resurrect later
    saved = str(tmp_path / "saved_w1")
    shutil.copytree(os.path.join(path, "batch=w1"), saved)
    st.compact(st.spark, path)  # gen-1
    st.update(st.df(["c"] * 9), "term", path, token="w2")
    st.compact(st.spark, path)  # gen-2 folds gen-1 + w2
    assert {"w1", "w2"} <= superseded_mg_tokens(st.spark, path)
    # resurrect w1 (as a crashed delete or wayward replay would)
    shutil.copytree(saved, os.path.join(path, "batch=w1"))
    assert st.state(path) == {"a": (4, 0), "b": (6, 0), "c": (9, 0)}


def test_mg_update_during_compaction_window_stays_live(summed, tmp_path):
    """A delta written after the fold's listing is not manifested:
    simulate by adding a delta to a compacted store and reading."""
    st, path = summed, str(tmp_path / "st")
    st.build(st.df(["a"] * 2), "term", path, capacity=32)
    st.update(st.df(["b"] * 3), "term", path)
    st.compact(st.spark, path)
    st.update(st.df(["d"] * 11), "term", path)  # landed "mid-run"
    assert st.state(path) == {"a": (2, 0), "b": (3, 0), "d": (11, 0)}
    # and the next compaction folds compact+late delta into one again
    assert st.compact(st.spark, path) == 2
    assert st.state(path) == {"a": (2, 0), "b": (3, 0), "d": (11, 0)}


def test_mg_crash_before_rename_changes_nothing(summed, tmp_path):
    """A _tmp_ dir left by a crash before the rename commit is
    invisible to readers and to live-token listing."""
    st, path = summed, str(tmp_path / "st")
    st.build(st.df(["a"] * 2), "term", path, capacity=32)
    st.update(st.df(["b"] * 3), "term", path)
    before = st.state(path)
    os.makedirs(os.path.join(path, "_tmp_compact_deadbeef"))
    with open(os.path.join(path, "_tmp_compact_deadbeef", "_sources.json"),
              "w") as f:
        json.dump(["0"], f)
    assert st.state(path) == before
    assert len(live_mg_tokens(st.spark, path)) == 2


# ------------------------------------------------------ the store protocol


def test_ensured_store_reads_empty_before_first_batch(summed, tmp_path):
    """``ensure_*_store`` writes only the sidecar; a read before the
    first batch is an empty summary, not a schema-inference error."""
    path = str(tmp_path / "st")
    summed.ensure(summed.spark, path, 16)
    assert summed.read(summed.spark, path).collect() == []


@pytest.mark.parametrize("kind", ["bloom", "mg", "quantile"])
def test_store_read_declares_its_delta_schema(spark, tmp_path, kind):
    """Building a store read runs no Spark job (the delta schema is
    declared, not inferred from a parquet footer), and the declared
    schema is exactly what the store's writer produces."""
    from syzgydb_spark.operators import bloom, quantiles, sketch

    path = str(tmp_path / kind)
    if kind == "bloom":
        build_bloom_store(_terms(spark, ["a", "b"]), "term", path,
                          n_bits=1 << 10, n_hashes=3)
        mod, read = bloom, lambda: read_bloom_store(spark, path)[0]
    else:
        st = _SummedStore(spark, kind)
        st.build(st.df(["a", "a", "b"]), "term", path, capacity=8)
        mod = sketch if kind == "mg" else quantiles
        read = lambda: st.read(spark, path)  # noqa: E731
    sc = spark.sparkContext
    group = f"read-{kind}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "build a store read")
    try:
        read()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    written = spark.read.parquet(os.path.join(path, "batch=0")).schema
    declared = spark.read.schema(mod._SCHEMA).parquet(
        os.path.join(path, "batch=0")).schema
    assert [(f.name, f.dataType) for f in written] == \
        [(f.name, f.dataType) for f in declared]


@pytest.mark.parametrize("kind", ["bloom", "mg", "quantile"])
def test_failed_compaction_write_leaves_no_tmp_dir(
        spark, tmp_path, monkeypatch, kind):
    """A compaction whose write fails after its tmp dir exists removes
    that dir, releases the lock and leaves the store as it was."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / kind)
    if kind == "bloom":
        build_bloom_store(_terms(spark, ["a", "b"]), "term", path,
                          n_bits=1 << 10, n_hashes=3)
        update_bloom_store(_terms(spark, ["c"]), "term", path)
        compact = compact_bloom_store

        def state():
            return sorted(read_bloom_store(spark, path)[0].collect())
    else:
        st = _SummedStore(spark, kind)
        st.build(st.df(["a", "a", "b"]), "term", path, capacity=8)
        st.update(st.df(["c"]), "term", path)
        compact = st.compact

        def state():
            return st.state(path)
    before, dirs = state(), _batch_dirs(path)

    real_parquet = DataFrameWriter.parquet

    def failing(self, p, *a, **kw):
        real_parquet(self, p, *a, **kw)
        if "_tmp_compact_" in p:
            raise RuntimeError("injected write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="injected write failure"):
        compact(spark, path)
    monkeypatch.undo()
    assert not [d for d in os.listdir(path) if d.startswith("_tmp_")]
    assert not os.path.exists(os.path.join(path, "_compact.lock"))
    assert _batch_dirs(path) == dirs
    assert state() == before


# ------------------------------------------------- bucketed table rebuilds


def _docs(spark, texts, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_fingerprint_store_compaction(spark, tmp_path):
    from syzgydb_spark.operators.dedup import (
        build_fingerprint_store,
        dedup_against_store,
        update_fingerprint_store,
    )

    table = f"fps_{uuid.uuid4().hex[:8]}"
    build_fingerprint_store(_docs(spark, ["aa", "bb"]), table, buckets=4)
    for w in range(3):
        update_fingerprint_store(
            spark, _docs(spark, [f"wave{w}a", f"wave{w}b"], start=100 * w),
            table)
    batch = _docs(spark, ["aa", "wave1a", "totally fresh"], start=900)
    before = sorted(r["doc_id"] for r in
                    dedup_against_store(spark, batch, table).collect())
    files_before = len(spark.table(table).inputFiles())

    removed = compact_fingerprint_store(spark, table)
    assert removed > 0
    assert len(spark.table(table).inputFiles()) == files_before - removed
    after = sorted(r["doc_id"] for r in
                   dedup_against_store(spark, batch, table).collect())
    assert after == before
    assert spark.table(table).count() == 8  # 2 + 3 waves x 2, distinct
    # updates keep working against the swapped-in table
    update_fingerprint_store(spark, _docs(spark, ["post-compact"], start=999),
                             table)
    assert spark.table(table).count() == 9
    spark.sql(f"DROP TABLE {table}")


def test_fingerprint_probe_plan_still_shuffle_free_after_compaction(
        spark, tmp_path):
    """The swap must preserve the bucket spec: the store side of the
    probe join shows no Exchange after compaction."""
    from syzgydb_spark.operators.dedup import (
        build_fingerprint_store,
        dedup_against_store,
        update_fingerprint_store,
    )

    table = f"fps_{uuid.uuid4().hex[:8]}"
    build_fingerprint_store(_docs(spark, ["aa", "bb", "cc"]), table, buckets=4)
    update_fingerprint_store(spark, _docs(spark, ["dd"], start=50), table)
    compact_fingerprint_store(spark, table)
    plan = dedup_against_store(
        spark, _docs(spark, ["aa", "zz"], start=900), table
    )._jdf.queryExecution().executedPlan().toString()
    scan_side = plan[plan.index(table):] if table in plan else plan
    assert "Exchange" not in scan_side
    spark.sql(f"DROP TABLE {table}")


def test_line_store_compaction_sums_deltas(spark, tmp_path):
    from syzgydb_spark.operators.dedup import (
        build_line_store,
        line_dedup_against_store,
        update_line_store,
    )

    boiler = "subscribe to our newsletter today"
    table = f"lines_{uuid.uuid4().hex[:8]}"
    build_line_store(
        _docs(spark, [f"{boiler}\nunique opening line one"]),
        table, buckets=4, min_line_chars=10)
    for w in range(3):
        update_line_store(
            spark,
            _docs(spark, [f"{boiler}\nwave {w} distinct body text"],
                  start=10 + w),
            table, min_line_chars=10)
    batch = _docs(spark, [f"{boiler}\nbrand new content line here"], start=99)
    before = line_dedup_against_store(
        spark, batch, table, min_line_chars=10).collect()
    rows_before = spark.table(table).count()

    removed = compact_line_store(spark, table)
    assert removed > 0
    assert spark.table(table).count() < rows_before  # deltas summed
    after = line_dedup_against_store(
        spark, batch, table, min_line_chars=10).collect()
    assert sorted(map(str, after)) == sorted(map(str, before))
    # the boilerplate line was cut, the fresh line kept
    assert after[0]["clean_text"] == "brand new content line here"
    assert after[0]["n_removed_lines"] == 1
    spark.sql(f"DROP TABLE {table}")


def test_bucketed_swap_crash_recovery(spark):
    """Crash between DROP and RENAME: the live name is gone but
    <table>__compact exists; the next compaction call heals first."""
    from syzgydb_spark.operators.dedup import (
        build_fingerprint_store,
        dedup_against_store,
    )
    from syzgydb_spark.operators.maintenance import _recover_bucketed_swap

    table = f"fps_{uuid.uuid4().hex[:8]}"
    build_fingerprint_store(_docs(spark, ["aa", "bb"]), table, buckets=4)
    # stage the crash: rebuild exists under __compact, live name dropped
    spark.table(table).write.format("parquet").mode("overwrite").bucketBy(
        4, "fp").sortBy("fp").saveAsTable(f"{table}__compact")
    spark.sql(f"DROP TABLE {table}")
    assert not spark.catalog.tableExists(table)

    assert _recover_bucketed_swap(spark, table)
    got = dedup_against_store(
        spark, _docs(spark, ["aa", "fresh"], start=10), table).collect()
    assert [r["text"] for r in got] == ["fresh"]
    # a full compaction call also heals on entry (idempotent path)
    compact_fingerprint_store(spark, table)
    assert spark.catalog.tableExists(table)
    spark.sql(f"DROP TABLE {table}")


def test_compact_external_table_refuses(spark, tmp_path):
    from syzgydb_spark.operators.dedup import build_fingerprint_store

    table = f"fps_{uuid.uuid4().hex[:8]}"
    build_fingerprint_store(_docs(spark, ["aa"]), table, buckets=2,
                            path=str(tmp_path / "ext"))
    with pytest.raises(ValueError, match="external"):
        compact_fingerprint_store(spark, table)
    spark.sql(f"DROP TABLE {table}")


def test_compaction_lock_refuses_second_compactor(spark, tmp_path):
    """The single-compactor protocol requirement is ENFORCED: while a
    compaction holds the advisory lock, a second compactor raises
    CompactionInProgressError instead of silently double-counting the
    sources both would fold. A crashed compactor's stale lock (older
    than the staleness horizon) is broken and the compaction runs."""
    import os as _os
    import time as _time

    from syzgydb_spark.operators.maintenance import (
        CompactionInProgressError,
        _compaction_lock,
    )

    path = str(tmp_path / "mg")
    build_mg_store(_terms(spark, ["a"] * 3), "term", path, capacity=32)
    update_mg_store(_terms(spark, ["b"] * 2), "term", path)

    # hold the lock as "another compactor" -> every store compactor
    # (and the quantile one, same protocol) must refuse
    with _compaction_lock(spark, path):
        with pytest.raises(CompactionInProgressError, match="ONE compactor"):
            compact_mg_store(spark, path)
    # released on exit: compaction now proceeds and cleans up its lock
    assert compact_mg_store(spark, path) == 2
    assert not _os.path.exists(_os.path.join(path, "_compact.lock"))

    # stale lock (crashed compactor, token stamped): break it and run
    update_mg_store(_terms(spark, ["c"] * 4), "term", path)
    lock = _os.path.join(path, "_compact.lock")
    with open(lock, "w") as f:
        f.write("compactor-dead")
    old = _time.time() - 7200
    _os.utime(lock, (old, old))
    assert compact_mg_store(spark, path) == 2
    assert _mg_state(spark, path) == {"a": (3, 0), "b": (2, 0), "c": (4, 0)}


def test_stale_lock_with_empty_token_is_unbreakable(spark, tmp_path):
    """An EMPTY owner token is indistinguishable from a fresh acquire
    caught between createNewFile and its token stamp — the tomb-verify
    would compare empty==empty and could steal the fresh lock (r9
    advice). Breakers must back off instead, however stale the file
    looks."""
    import os as _os
    import time as _time

    from syzgydb_spark.operators.maintenance import (
        CompactionInProgressError,
    )

    path = str(tmp_path / "mg_empty")
    build_mg_store(_terms(spark, ["a"] * 3), "term", path, capacity=32)
    update_mg_store(_terms(spark, ["b"] * 2), "term", path)
    lock = _os.path.join(path, "_compact.lock")
    open(lock, "w").close()  # zero-byte token
    old = _time.time() - 7200
    _os.utime(lock, (old, old))
    with pytest.raises(CompactionInProgressError, match="empty owner token"):
        compact_mg_store(spark, path)
    assert _os.path.exists(lock)  # nothing touched it


def test_lock_vanishing_between_create_and_stat_retries(
        spark, tmp_path, monkeypatch):
    """Deterministic replay of the r9-advice TOCTOU inside __enter__:
    the holder releases between our failed createNewFile and the
    getFileStatus age check. Pre-fix that surfaced as a raw Py4J
    FileNotFoundException; post-fix the acquire is simply retried."""
    import os as _os

    from syzgydb_spark.operators import maintenance as mnt

    store = str(tmp_path / "mg_vanish")
    _os.makedirs(store)
    lock = _os.path.join(store, "_compact.lock")
    with open(lock, "w") as f:
        f.write("compactor-racing")  # fresh holder, about to release

    lk = mnt._compaction_lock(spark, store)
    real_acquire = lk._acquire
    state = {"n": 0}

    def hooked(fs, p):
        state["n"] += 1
        if state["n"] == 1:
            # createNewFile fails (lock exists) — and before the stat
            # lands, the holder releases
            _os.remove(lock)
            return False
        return real_acquire(fs, p)

    monkeypatch.setattr(lk, "_acquire", hooked)
    with lk:
        assert state["n"] == 2  # second acquire attempt won
        with open(lock) as f:
            assert f.read() == lk._token
    assert not _os.path.exists(lock)


def test_compaction_vacuums_healed_zombie_delta(summed, tmp_path):
    """A zombie compact delta dropped by live_mg_tokens' subset-healing
    used to be excluded from `live` and therefore never deleted — the
    orphan dir persisted forever, taxing every read with an extra
    _sources.json fetch plus the healing pass (r9 advice). Compaction
    (including the nothing-to-fold path) now vacuums it."""
    st, path = summed, str(tmp_path / "st_vac")
    st.build(st.df(["a"] * 3), "term", path, capacity=32)
    st.update(st.df(["b"] * 2), "term", path)
    assert st.compact(st.spark, path) == 2
    real = [d for d in _batch_dirs(path) if "compact-" in d]
    assert len(real) == 1
    manifest = json.load(
        open(os.path.join(path, real[0], "_sources.json")))
    # hand-craft the zombie: a compact delta whose manifest is a strict
    # subset of the survivor's — exactly what a paused-then-resumed
    # compactor leaves when its successor re-folded a superset
    zombie = os.path.join(path, "batch=compact-00zombie00")
    os.makedirs(zombie)
    with open(os.path.join(zombie, "_sources.json"), "w") as f:
        json.dump(manifest[:1], f)

    # reads heal: the zombie is not live, counts are not doubled
    live, garbage = live_mg_tokens(st.spark, path, with_garbage=True)
    assert live == [real[0].split("=", 1)[1]]
    assert garbage == ["compact-00zombie00"]
    assert st.state(path) == {"a": (3, 0), "b": (2, 0)}

    # nothing to fold (1 live delta) — but the vacuum still runs
    assert st.compact(st.spark, path) == 0
    assert not os.path.exists(zombie)
    assert _batch_dirs(path) == real
    assert st.state(path) == {"a": (3, 0), "b": (2, 0)}


def test_compaction_lock_released_on_error(spark, tmp_path):
    """A compactor that fails mid-run must not leave the store
    permanently locked (the __exit__ release runs on error too)."""
    import os as _os

    from syzgydb_spark.operators.maintenance import _compaction_lock

    path = str(tmp_path / "mg")
    build_mg_store(_terms(spark, ["a"] * 3), "term", path, capacity=32)
    with pytest.raises(RuntimeError, match="boom"):
        with _compaction_lock(spark, path):
            raise RuntimeError("boom")
    assert not _os.path.exists(_os.path.join(path, "_compact.lock"))
    update_mg_store(_terms(spark, ["b"] * 2), "term", path)
    assert compact_mg_store(spark, path) == 2
