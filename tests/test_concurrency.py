"""Write serialization + crash recovery (VERDICT r2 items 1, 2, 8).

The reference serializes all mutation under a per-collection RWMutex
(/root/reference/collection.go:199, 569-570) so concurrent writers can
never lose a commit. Here the same contract is enforced by an
in-process per-path lock plus a version CAS on the manifest flip with
merge-retry — these tests pin both layers, the closed-form bucket
discovery for point mutations, and the crash-orphan vacuum protocol.
"""

import json
import os
import threading

import pytest

from syzgydb_spark.collection import (
    Collection,
    CollectionOptions,
    ManifestConflictError,
)


@pytest.fixture()
def coll(spark, tmp_path):
    opts = CollectionOptions(name="c", dimension_count=3, n_buckets=8)
    c = Collection.create(spark, str(tmp_path / "c"), opts)
    c.add_documents(
        [(i, [float(i), 0.0, 0.0], json.dumps({"i": i})) for i in range(100)]
    )
    return c


def test_concurrent_upserts_both_survive(coll):
    """Two threads upsert disjoint id ranges at the same time; the
    reference's no-lost-update guarantee means BOTH commits must be
    visible afterwards (this raced and silently lost one before the
    lock + CAS landed)."""
    barrier = threading.Barrier(2)
    errors = []

    def writer(lo, hi):
        try:
            barrier.wait(timeout=30)
            coll.add_documents(
                [(i, [1.0, 1.0, 1.0], json.dumps({"w": i})) for i in range(lo, hi)]
            )
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(1000, 1040))
    t2 = threading.Thread(target=writer, args=(2000, 2040))
    t1.start(); t2.start()
    t1.join(120); t2.join(120)
    assert not errors
    ids = set(coll.get_all_ids())
    assert set(range(1000, 1040)) <= ids, "writer 1's commit was lost"
    assert set(range(2000, 2040)) <= ids, "writer 2's commit was lost"
    assert set(range(100)) <= ids
    assert coll.count() == 180


def test_cas_rejects_stale_version(coll):
    """_flip_manifest with an expected_version that no longer matches
    must refuse — the optimistic-concurrency backstop for writers that
    don't share the in-process lock (other processes)."""
    live = coll._manifest()["version"]
    with pytest.raises(ManifestConflictError):
        coll._flip_manifest(
            {"version": live + 1, "buckets": {}}, expected_version=live - 1
        )
    # nothing was flipped
    assert coll._manifest()["version"] == live
    assert coll.count() == 100


def test_merge_retries_after_losing_cas(spark, coll):
    """A writer whose CAS loses to a real interleaved commit must
    re-merge against the winner's manifest and succeed — and the
    winner's rows must survive the retry."""
    c2 = Collection.open(spark, coll.path)
    c2._lock = threading.RLock()  # simulate a second process: no shared lock
    orig_flip = Collection._flip_manifest
    calls = {"n": 0}

    def racing_flip(self, manifest, *, expected_version=None):
        if expected_version is not None:
            calls["n"] += 1
            if calls["n"] == 1:
                # interleave a full commit from the "other process"
                # between this writer's manifest read and its flip
                c2.add_documents([(5000, [5.0, 5.0, 5.0], '{"w": "other"}')])
        return orig_flip(self, manifest, expected_version=expected_version)

    coll._flip_manifest = racing_flip.__get__(coll)
    try:
        coll.add_documents([(6000, [6.0, 6.0, 6.0], '{"w": "me"}')])
    finally:
        del coll._flip_manifest
    assert calls["n"] >= 2, "losing writer did not retry its commit"
    ids = set(coll.get_all_ids())
    assert 5000 in ids and 6000 in ids
    assert coll.count() == 102
    # no orphan files were left behind by the losing attempt
    assert coll.vacuum() == 0


def test_point_mutations_use_closed_form_buckets(coll):
    """update_metadata / remove / get must compute the target bucket
    from the id (pmod(xxhash64(id), n_buckets)) and read ONLY that
    bucket — never discover it by scanning the table (VERDICT r2 #2)."""
    seen = []
    orig_raw = Collection._raw

    def spying_raw(self, buckets=None, *, manifest=None):
        seen.append(buckets)
        return orig_raw(self, buckets, manifest=manifest)

    coll._raw = spying_raw.__get__(coll)
    try:
        coll.update_metadata(7, '{"i": 700}')
        coll.remove([8, 9])
        assert coll.get(7) is not None
    finally:
        del coll._raw
    assert seen, "no reads recorded"
    assert all(b is not None for b in seen), (
        f"a point mutation fell back to a full-table scan: {seen}"
    )
    # every probed set is the closed-form bucket list for its ids
    assert seen[0] == coll._buckets_for_ids([7])
    assert set(seen[1]) <= set(coll._buckets_for_ids([8, 9]))
    # and the closed-form expression agrees with what _encode stored
    rows = coll._raw().select("id", "bucket").collect()
    stored = {r["id"]: r["bucket"] for r in rows}
    for doc_id in (1, 7, 42, 99):
        assert coll._buckets_for_ids([doc_id]) == [stored[doc_id]]


def test_crash_between_rename_and_flip_recovers(coll):
    """Crash injection: die after the staged files are renamed into the
    data directory but before the manifest flips. Readers must still
    see the pre-crash state (the manifest is the source of truth), and
    vacuum() must remove exactly the orphaned files."""
    before_version = coll._manifest()["version"]

    def crashing_flip(self, manifest, *, expected_version=None):
        if expected_version is not None:
            raise RuntimeError("injected crash before manifest flip")
        raise AssertionError("unexpected flip call")

    coll._flip_manifest = crashing_flip.__get__(coll)
    with pytest.raises(RuntimeError, match="injected crash"):
        coll.add_documents([(7777, [7.0, 7.0, 7.0], "{}")])
    del coll._flip_manifest

    # reader view is the old version: no partial write visible
    assert coll._manifest()["version"] == before_version
    assert coll.count() == 100
    assert coll.get(7777) is None

    # the crash stranded exactly (files on disk) - (files in manifest)
    live = {
        (b, f)
        for b, files in coll._manifest()["buckets"].items()
        for f in files
    }
    on_disk = set()
    data = coll._data_dir()
    for entry in os.listdir(data):
        if entry.startswith("bucket="):
            b = entry.split("=", 1)[1]
            for f in os.listdir(os.path.join(data, entry)):
                if f.endswith(".parquet"):
                    on_disk.add((b, f))
    orphans = on_disk - live
    assert orphans, "crash injection left no orphans to vacuum"
    # the fresh future-version files are indistinguishable from a
    # concurrent PROCESS's in-flight commit — the default grace window
    # protects them...
    assert coll.vacuum() == 0
    # ...and an operator who knows the writer is dead reclaims now
    assert coll.vacuum(grace_seconds=0) == len(orphans)
    assert coll.vacuum(grace_seconds=0) == 0  # idempotent
    assert coll.count() == 100  # vacuum never touches live files

    # the collection remains fully writable after recovery
    coll.add_documents([(7777, [7.0, 7.0, 7.0], "{}")])
    assert coll.get(7777) is not None


def test_commit_with_stale_manifest_snapshot_conflicts(coll):
    """The CAS must guard the full read-merge-write span: a commit
    built against a manifest snapshot that another writer has since
    advanced must fail with ManifestConflictError (and retry from the
    caller), never silently revert the other writer's rows. This is
    the cross-process shape — in-process writers already serialize on
    the mutation lock."""
    man = coll._manifest()  # the "reader's" snapshot
    coll.add_documents([(5000, [1.0, 0.0, 0.0], None)])  # concurrent writer wins
    enc = coll._encode(
        coll.spark.createDataFrame(
            [(6000, [2.0, 0.0, 0.0], None)], coll.SCHEMA_BASE
        )
    )
    touched = [r["bucket"] for r in enc.select("bucket").distinct().collect()]
    with pytest.raises(ManifestConflictError):
        coll._commit_buckets(enc, touched, base_manifest=man)
    # the losing commit left no visible rows and no manifest change
    assert coll.get(6000) is None
    assert coll.get(5000) is not None


def test_raw_construction_stale_scan_converts(spark, tmp_path, monkeypatch):
    """read.parquet() itself reads a parquet footer (schema
    inference), so a cross-process reclaim can throw at scan
    CONSTRUCTION, before any guarded action (the storm-under-load
    find). Deterministic replay: make the first construction attempt
    raise the stale-scan shape — a pinned manifest must surface
    ManifestConflictError for the caller's CAS loop; a live read must
    re-snapshot and succeed."""
    from syzgydb_spark.collection import ManifestConflictError

    path = str(tmp_path / "rc")
    c = Collection.create(
        spark, path, CollectionOptions(name="rc", dimension_count=2, n_buckets=2)
    )
    c.add_documents([(1, [0.0, 1.0], None), (2, [1.0, 0.0], None)])

    real_reader = type(spark.read)
    calls = {"n": 0}
    orig_parquet = real_reader.parquet

    def flaky_parquet(self, *paths):
        calls["n"] += 1
        if calls["n"] == 1:
            raise Exception(
                "[FAILED_READ_FILE.NO_HINT] Encountered error while reading "
                f"file file://{path}/data/bucket=0/v9-part-0.parquet"
            )
        return orig_parquet(self, *paths)

    monkeypatch.setattr(real_reader, "parquet", flaky_parquet)
    # live read: retries internally on a fresh snapshot
    assert c._raw().count() == 2
    assert calls["n"] == 2
    # pinned manifest: the conflict goes to the caller's retry loop
    calls["n"] = 0
    with pytest.raises(ManifestConflictError):
        c._raw(manifest=c._manifest())
    # non-stale errors still propagate from construction
    calls["n"] = 0

    def broken_parquet(self, *paths):
        raise Exception("java.lang.OutOfMemoryError: boom")

    monkeypatch.setattr(real_reader, "parquet", broken_parquet)
    with pytest.raises(Exception, match="OutOfMemoryError"):
        c._raw()


def test_stale_scan_error_predicate():
    """The cross-process conflict detector matches exactly the shapes
    Spark raises for a data file that vanished mid-scan or while the
    scan was being built, and nothing else."""
    from syzgydb_spark.collection import _is_stale_scan_error

    assert _is_stale_scan_error(Exception(
        "[FAILED_READ_FILE.NO_HINT] Encountered error while reading file "
        "file:///tmp/x/c/data/bucket=3/v2-part-0.snappy.parquet.  SQLSTATE: KD001"
    ))
    assert _is_stale_scan_error(Exception(
        "java.io.FileNotFoundException: File file:/tmp/x/c/data/bucket=1/"
        "v5-part-0.parquet does not exist"
    ))
    # read.parquet losing the file while it builds the scan
    assert _is_stale_scan_error(Exception(
        "[PATH_NOT_FOUND] Path does not exist: file:/tmp/x/vs/data/bucket=5/"
        "v2-part-00001-7a48.c000.snappy.parquet. SQLSTATE: 42K03"
    ))
    assert not _is_stale_scan_error(Exception(
        "[PATH_NOT_FOUND] Path does not exist: file:/tmp/x/other/part-0.parquet"
    ))
    # unrelated read failures and non-collection paths must propagate
    assert not _is_stale_scan_error(Exception(
        "[FAILED_READ_FILE.NO_HINT] reading file:///other/table/part-0.parquet"
    ))
    assert not _is_stale_scan_error(Exception("java.lang.OutOfMemoryError"))


@pytest.mark.parametrize("backend", ["manifest", "sqlite", "delta-sim"])
def test_cross_process_writers_conflict_retry(spark, tmp_path, backend):
    """THREE separate OS processes upsert disjoint id ranges into one
    collection concurrently. The in-process lock cannot serialize
    them; the manifest CAS alone must: a writer whose merge scanned
    files a concurrent commit reclaimed sees the stale-scan error as a
    ManifestConflictError and retries with a fresh manifest. Every
    process must exit 0 and every id must survive (this reproduced
    2-of-3 writer crashes before the FAILED_READ_FILE -> conflict
    conversion; 4/4 storm trials clean after). Stronger than the
    reference, whose RWMutex only covers one process. Runs against
    BOTH runnable storage backends — the sqlite catalog's transaction
    CAS must hold under the same cross-process storm as the flock'd
    manifest (the workers inherit the backend from options.json)."""
    import subprocess
    import sys
    import textwrap

    path = str(tmp_path / "xc")
    Collection.create(
        spark, path,
        CollectionOptions(
            name="xc", dimension_count=2, n_buckets=4, storage_backend=backend
        ),
    )
    worker = tmp_path / "worker.py"
    worker.write_text(textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from syzgydb_spark.collection import Collection
        from syzgydb_spark.session import get_spark
        tid = int(sys.argv[1])
        spark = get_spark(app_name=f"xw{{tid}}", master="local[2]", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        c = Collection.open(spark, {path!r})
        for step in range(4):
            c.add_documents([
                (1000 * tid + step * 10 + j, [float(tid), float(step)],
                 json.dumps({{"t": tid}}))
                for j in range(6)
            ])
    """))
    procs = [
        subprocess.Popen(
            [sys.executable, str(worker), str(t)],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        for t in (1, 2, 3)
    ]
    for p in procs:
        _, err = p.communicate(timeout=500)
        assert p.returncode == 0, err.decode()[-2000:]

    c = Collection.open(spark, path)
    ids = {r["id"] for r in c.df().select("id").collect()}
    expect = {
        1000 * t + s * 10 + j for t in (1, 2, 3) for s in range(4) for j in range(6)
    }
    assert ids == expect, sorted(expect - ids)[:10]


def test_rename_in_counts_age_from_rename_not_staging_write(coll, monkeypatch):
    """os.replace preserves the mtime the STAGING write set, so a
    staging write longer than vacuum's grace window would make a
    concurrent process's renamed-in-but-unflipped files look aged-out
    the moment they appear — vacuum would reclaim them and the winning
    flip would reference missing data. Regression: _commit_buckets must
    re-stamp each file at rename-in so grace counts from rename time.

    Simulated by a replace() that backdates the destination (what a
    >grace staging write looks like), plus the crash-before-flip
    injection: the orphans must still be inside the grace window."""
    import time as _time

    real_replace = os.replace

    def backdating_replace(src, dst, **kw):
        real_replace(src, dst, **kw)
        if str(dst).endswith(".parquet"):
            old = _time.time() - 3600
            os.utime(dst, (old, old))

    monkeypatch.setattr(os, "replace", backdating_replace)

    def crashing_flip(self, manifest, *, expected_version=None):
        raise RuntimeError("injected crash before manifest flip")

    coll._flip_manifest = crashing_flip.__get__(coll)
    with pytest.raises(RuntimeError, match="injected crash"):
        coll.add_documents([(8888, [8.0, 8.0, 8.0], "{}")])
    del coll._flip_manifest

    # the renamed-in future-version files must read as FRESH: protected
    # by the default grace window despite their hour-old staging mtime
    assert coll.vacuum() == 0
    assert coll.vacuum(grace_seconds=0) > 0  # known-dead: reclaim now
    assert coll.count() == 100


def test_vacuum_storm_with_slow_writers(spark, tmp_path):
    """Concurrent-vacuum storm against SLOW writers (the r4 utime fix
    under real cross-process load): three writer processes whose
    staging writes look hour-old (backdated parquet mtimes — what a
    longer-than-grace staging write produces) and whose rename->flip
    window is stretched by an injected delay, racing a fourth process
    that vacuums in a tight loop with a grace window larger than the
    injected delay. Without the rename-time re-stamp
    (storage.commit_buckets os.utime), every renamed-in file would
    read as aged-out the instant it appears and the vacuum loop would
    reclaim mid-commit files — the winning flip would then reference
    missing data. Contract: every writer exits 0, zero lost commits,
    and every manifest-referenced file exists on disk.

    The dangerous window is created DETERMINISTICALLY (backdate +
    delay) rather than by sheer data volume, so the test exercises
    sf1-and-beyond staging latencies without sf1 runtime; the vacuum
    loop lands dozens of passes inside the stretched windows."""
    import subprocess
    import sys
    import textwrap

    path = str(tmp_path / "vs")
    Collection.create(
        spark, path, CollectionOptions(name="vs", dimension_count=2, n_buckets=8)
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    writer = tmp_path / "slow_writer.py"
    writer.write_text(textwrap.dedent(f"""
        import json, os, sys, time
        sys.path.insert(0, {repo!r})
        real_replace = os.replace
        def backdating_replace(src, dst, **kw):
            real_replace(src, dst, **kw)
            if str(dst).endswith(".parquet"):
                old = time.time() - 3600
                os.utime(dst, (old, old))
        os.replace = backdating_replace  # simulate >grace staging writes
        from syzgydb_spark.collection import Collection
        from syzgydb_spark.session import get_spark
        tid = int(sys.argv[1])
        spark = get_spark(app_name=f"vw{{tid}}", master="local[2]", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        c = Collection.open(spark, {path!r})
        orig_flip = c._flip_manifest
        def slow_flip(manifest, *, expected_version=None):
            time.sleep(1.0)  # stretch the rename->flip window
            return orig_flip(manifest, expected_version=expected_version)
        c._flip_manifest = slow_flip
        for step in range(3):
            c.add_documents([
                (10_000 * tid + step * 1000 + j,
                 [float(tid), float(step)],
                 json.dumps({{"t": tid, "pad": "x" * 200}}))
                for j in range(400)
            ])
    """))

    vac = tmp_path / "vacuum_loop.py"
    vac.write_text(textwrap.dedent(f"""
        import sys, time
        sys.path.insert(0, {repo!r})
        from syzgydb_spark.collection import Collection
        from syzgydb_spark.session import get_spark
        spark = get_spark(app_name="vvac", master="local[2]", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        c = Collection.open(spark, {path!r})
        deadline = time.time() + float(sys.argv[1])
        passes = 0
        while time.time() < deadline:
            # grace far above the injected 1 s window, far below the
            # 3600 s backdate — only the rename-time re-stamp protects
            c.vacuum(grace_seconds=60)
            passes += 1
            time.sleep(0.2)
        print(f"vacuum passes: {{passes}}")
    """))

    writers = [
        subprocess.Popen(
            [sys.executable, str(writer), str(t)],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        for t in (1, 2, 3)
    ]
    vproc = subprocess.Popen(
        [sys.executable, str(vac), "90"],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
    )
    for p in writers:
        _, err = p.communicate(timeout=500)
        assert p.returncode == 0, err.decode()[-2000:]
    vout, verr = vproc.communicate(timeout=200)
    assert vproc.returncode == 0, verr.decode()[-2000:]
    assert b"vacuum passes:" in vout

    c = Collection.open(spark, path)
    ids = {r["id"] for r in c.df().select("id").collect()}
    expect = {
        10_000 * t + s * 1000 + j
        for t in (1, 2, 3) for s in range(3) for j in range(400)
    }
    assert ids == expect, f"lost {len(expect - ids)} ids, e.g. {sorted(expect - ids)[:5]}"
    # every manifest-referenced file must exist (no dangling references)
    man = c._manifest()
    for b, files in man["buckets"].items():
        for fname in files:
            assert os.path.exists(
                os.path.join(c._data_dir(), f"bucket={b}", fname)
            ), (b, fname)
