"""Delta-specific failure semantics, executed (r5-verdict task 1).

A Delta Lake adapter needs delta-spark, which is not a dependency of
this package. These tests close the proof gap with
:class:`FaultInjectingBackend`: each scenario below replays a behavior
docs/DELTA.md §3 attributes to Delta — the commit-conflict exception
mapping, the replaceWhere partial-visibility window, losers leaving
orphans for VACUUM, VACUUM RETAIN's mtime-only retention (the
reader-pin-vs-vacuum race), and partition-level conflict detection —
through the same storage seam a Delta adapter would use. The
shared contract clauses run in tests/test_storage_backend.py (this
backend is in its matrix); the 3-process commit storm runs against it
in tests/test_concurrency.py.
"""

import json
import os
import time

import pytest

from syzgydb_spark.storage import (
    FaultInjectingBackend,
    ManifestConflictError,
    SimulatedCommitAbort,
    SimulatedConcurrentModificationException,
)


@pytest.fixture()
def backend(tmp_path):
    b = FaultInjectingBackend(str(tmp_path / "tbl"))
    os.makedirs(b.path, exist_ok=True)
    b.initialize()
    return b


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, b, f"p{i}") for i, b in rows], "id LONG, bucket INT, payload STRING"
    )


def _read_ids(spark, backend, manifest=None, buckets=None):
    paths = backend.data_paths(manifest or backend.read_manifest(), buckets)
    if not paths:
        return []
    df = spark.read.option("basePath", backend.data_dir()).parquet(*paths)
    return sorted(r["id"] for r in df.select("id").collect())


def _orphans(backend):
    """Data files on disk that no readable manifest references."""
    live = backend.referenced_files()
    out = []
    for entry in os.listdir(backend.data_dir()):
        if not entry.startswith("bucket="):
            continue
        b = entry.split("=", 1)[1]
        for f in os.listdir(os.path.join(backend.data_dir(), entry)):
            if f.endswith(".parquet") and (b, f) not in live:
                out.append((b, f))
    return out


# ---------------------------------------------------------------------------
# 1. ConcurrentModificationException -> ManifestConflictError mapping
# ---------------------------------------------------------------------------

def _cause_chain(e):
    out = []
    while e is not None:
        out.append(e)
        e = e.__cause__
    return out


def test_conflict_surfaces_as_delta_exception_then_maps(backend, spark):
    """The inner transaction log raises the Delta-family exception; the
    adapter boundary maps it to the seam's ManifestConflictError. The
    cause chain proves the mapping is executed code, not a re-raise of
    the same class."""
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    with pytest.raises(ManifestConflictError) as exc:
        backend.commit_buckets(_df(spark, [(9, 0)]), [0], base)  # stale, same bucket
    assert any(
        isinstance(c, SimulatedConcurrentModificationException)
        for c in _cause_chain(exc.value)
    ), "conflict must originate as the Delta-shaped exception"
    assert _read_ids(spark, backend) == [1]


def test_metadata_interloper_mid_commit_does_not_abort(backend, spark):
    """inject('concurrent_commit'): a writer advances the log between
    OUR snapshot read and OUR log commit, but touches none of our
    buckets — Delta's partition-level detection lets our commit land
    (rebase), where a whole-table version CAS would force a retry."""
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    m2 = backend.read_manifest()
    backend.inject("concurrent_commit")
    backend.commit_buckets(_df(spark, [(2, 0)]), [0], m2)  # absorbs interloper
    assert backend._armed.get("concurrent_commit", 0) == 0, "fault fired"
    man = backend.read_manifest()
    assert man["version"] == m2["version"] + 2  # interloper + our rebased commit
    assert _read_ids(spark, backend) == [2]


def test_interloper_conflicts_in_version_cas_mode(tmp_path, spark):
    """Same injected interloper, whole-table CAS mode: the conflict
    fires exactly MID-COMMIT (the snapshot was fresh when the commit
    started) and a retry against the new snapshot succeeds — the loop
    the real adapter runs when delta-spark raises
    ConcurrentModificationException."""
    backend = FaultInjectingBackend(
        str(tmp_path / "casmode"), partition_level_conflicts=False
    )
    os.makedirs(backend.path, exist_ok=True)
    backend.initialize()
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    m2 = backend.read_manifest()
    backend.inject("concurrent_commit")
    with pytest.raises(ManifestConflictError) as exc:
        backend.commit_buckets(_df(spark, [(2, 0)]), [0], m2)
    assert any(
        isinstance(c, SimulatedConcurrentModificationException)
        for c in _cause_chain(exc.value)
    )
    # retry with the fresh manifest succeeds (what Collection's loop does)
    backend.commit_buckets(_df(spark, [(2, 0)]), [0], backend.read_manifest())
    assert _read_ids(spark, backend) == [2]


# ---------------------------------------------------------------------------
# 2. replaceWhere partial-visibility window (crash after stage)
# ---------------------------------------------------------------------------

def test_crash_after_stage_is_invisible_and_vacuumable(backend, spark):
    """Data files land before the log entry (Delta writes files first);
    a crash inside that window must leave readers on the old snapshot,
    and VACUUM must reclaim the debris only after retention."""
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    m2 = backend.read_manifest()
    backend.inject("crash_after_stage")
    with pytest.raises(SimulatedCommitAbort):
        backend.commit_buckets(_df(spark, [(2, 0), (3, 1)]), [0, 1], m2)
    # the window is real: files exist on disk, no manifest references them
    assert len(_orphans(backend)) >= 2  # bucket 0 + bucket 1 debris
    # readers are unaffected
    assert backend.read_manifest()["version"] == m2["version"]
    assert _read_ids(spark, backend) == [1]
    # within retention the debris is spared (it could be in-flight work)
    assert backend.vacuum(grace_seconds=3600) == 0
    assert len(_orphans(backend)) >= 2
    # past retention it is reclaimed
    assert backend.vacuum(grace_seconds=0) >= 2
    assert _orphans(backend) == []
    assert _read_ids(spark, backend) == [1]


# ---------------------------------------------------------------------------
# 3. Losers leave orphans for VACUUM (no eager loser cleanup)
# ---------------------------------------------------------------------------

def test_cas_loser_leaves_orphans_for_vacuum(backend, spark):
    """Delta does not delete a conflicted commit's data files eagerly;
    they stay invisible until VACUUM. Invisible-staging must hold via
    the log alone."""
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    with pytest.raises(ManifestConflictError):
        backend.commit_buckets(_df(spark, [(9, 0)]), [0], base)
    orphans = _orphans(backend)
    assert orphans, "the loser's files must remain on disk (Delta policy)"
    assert _read_ids(spark, backend) == [1]  # ...but stay invisible
    assert backend.vacuum(grace_seconds=0) == len(orphans)
    assert _orphans(backend) == []


# ---------------------------------------------------------------------------
# 4. VACUUM RETAIN vs a pinned reader (the vacuum-vs-reader race)
# ---------------------------------------------------------------------------

def test_pinned_reader_survives_vacuum_within_retention(backend, spark):
    """A reader holding a pre-commit snapshot keeps scanning as long as
    vacuum honors retention (Delta: deletedFileRetentionDuration);
    a zero-retention vacuum breaks the pinned reader — exactly the
    misconfiguration case docs/DELTA.md warns about."""
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    pinned = backend.read_manifest()  # reader pins this snapshot
    backend.commit_buckets(_df(spark, [(2, 0)]), [0], pinned)  # replaces files
    # replaced files are NOT eagerly reclaimed (Delta policy) ...
    assert _read_ids(spark, backend, manifest=pinned) == [1]
    # ... and survive a retention-honoring vacuum
    assert backend.vacuum(grace_seconds=3600) == 0
    assert _read_ids(spark, backend, manifest=pinned) == [1]
    assert _read_ids(spark, backend) == [2]
    # zero retention yanks them; the pinned reader now fails
    assert backend.vacuum(grace_seconds=0) >= 1
    with pytest.raises(Exception):
        _read_ids(spark, backend, manifest=pinned)
    assert _read_ids(spark, backend) == [2]


def test_vacuum_retention_is_mtime_only(backend, spark):
    """No version-ahead heuristic: ANY unreferenced file inside the
    retention horizon survives, whatever its version prefix says."""
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    bdir = os.path.join(backend.data_dir(), "bucket=0")
    src = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
    import shutil

    behind = os.path.join(bdir, "v1-old-debris.parquet")
    ahead = os.path.join(bdir, "v999-inflight.parquet")
    shutil.copy(os.path.join(bdir, src), behind)
    shutil.copy(os.path.join(bdir, src), ahead)
    assert backend.vacuum(grace_seconds=3600) == 0  # both fresh -> both spared
    old = time.time() - 7200
    os.utime(behind, (old, old))
    assert backend.vacuum(grace_seconds=3600) == 1  # aged -> reclaimed
    assert os.path.exists(ahead) and not os.path.exists(behind)


# ---------------------------------------------------------------------------
# 5. Partition-level conflict detection (ConcurrentAppend-free path)
# ---------------------------------------------------------------------------

def test_disjoint_bucket_commits_from_same_snapshot_both_land(backend, spark):
    """Delta detects conflicts per partition: two writers sharing a
    base snapshot but touching DISJOINT buckets both succeed (the
    second rebases onto the winner) — strictly fewer retries than the
    whole-table version CAS, DELTA.md's one favorable delta."""
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0), (2, 1)]), [0, 1], base)
    shared = backend.read_manifest()  # both writers read THIS snapshot
    backend.commit_buckets(_df(spark, [(10, 0)]), [0], shared)   # writer A
    backend.commit_buckets(_df(spark, [(20, 1)]), [1], shared)   # writer B: rebases
    man = backend.read_manifest()
    assert man["version"] == shared["version"] + 2
    assert _read_ids(spark, backend) == [10, 20]  # neither write lost


def test_overlapping_bucket_commits_still_conflict(backend, spark):
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    shared = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(10, 0)]), [0], shared)
    with pytest.raises(ManifestConflictError, match="overlapping partition"):
        backend.commit_buckets(_df(spark, [(11, 0)]), [0], shared)
    assert _read_ids(spark, backend) == [10]


def test_version_cas_mode_when_partition_detection_off(tmp_path, spark):
    b = FaultInjectingBackend(
        str(tmp_path / "cas"), partition_level_conflicts=False
    )
    os.makedirs(b.path, exist_ok=True)
    b.initialize()
    base = b.read_manifest()
    b.commit_buckets(_df(spark, [(1, 0)]), [0], base)
    shared = b.read_manifest()
    b.commit_buckets(_df(spark, [(10, 0)]), [0], shared)
    with pytest.raises(ManifestConflictError):
        # disjoint bucket, but whole-table CAS mode: conflict anyway
        b.commit_buckets(_df(spark, [(20, 1)]), [1], shared)


# ---------------------------------------------------------------------------
# 6. Collection end-to-end + the mutation retry loop over this backend
# ---------------------------------------------------------------------------

def test_collection_runs_on_delta_sim_backend(tmp_path, spark):
    """Full Collection lifecycle through the simulator: create →
    upsert → search → reopen (options.json restores the backend) →
    retention-honoring vacuum. Mirrors the sqlite smoke test."""
    from syzgydb_spark.collection import Collection, CollectionOptions

    path = str(tmp_path / "ds")
    c = Collection.create(
        spark, path,
        CollectionOptions(
            name="ds", dimension_count=2, n_buckets=4,
            storage_backend="delta-sim",
        ),
    )
    c.add_documents(
        [(i, [float(i), 0.0], json.dumps({"s": i})) for i in range(30)]
    )
    got = c.search([3.0, 0.0], k=3).collect()
    assert [r["id"] for r in got] == [3, 2, 4]
    c.add_documents([(3, [100.0, 0.0], json.dumps({"s": -1}))])  # upsert
    assert [r["id"] for r in c.search([3.0, 0.0], k=3).collect()] == [2, 4, 1]
    c2 = Collection.open(spark, path)
    assert c2.options.storage_backend == "delta-sim"
    assert isinstance(c2.storage, FaultInjectingBackend)
    assert c2.count() == 30
    # replaced files await VACUUM (no eager reclaim) and are reclaimable
    assert c2.storage.vacuum(grace_seconds=0) >= 1
    assert c2.count() == 30


def test_collection_retry_loop_recovers_from_injected_conflict(tmp_path, spark):
    """An interloper landing mid-commit surfaces as the Delta-shaped
    conflict; Collection's re-read/re-merge/retry loop must absorb it
    with zero lost updates — the behavior the real adapter needs when
    delta-spark raises ConcurrentModificationException."""
    from syzgydb_spark.collection import Collection, CollectionOptions

    path = str(tmp_path / "rt")
    c = Collection.create(
        spark, path,
        CollectionOptions(
            name="rt", dimension_count=2, n_buckets=4,
            storage_backend="delta-sim",
        ),
    )
    c.add_documents([(1, [1.0, 0.0], json.dumps({})), (2, [2.0, 0.0], json.dumps({}))])
    # whole-table CAS mode so the injected conflict PROPAGATES to
    # Collection (partition-level detection would absorb it silently)
    c.storage.partition_level_conflicts = False
    c.storage.inject("concurrent_commit")
    c.add_documents([(3, [3.0, 0.0], json.dumps({}))])  # must retry + land
    assert c.storage._armed.get("concurrent_commit", 0) == 0, "fault fired"
    assert sorted(r["id"] for r in c.df().select("id").collect()) == [1, 2, 3]
