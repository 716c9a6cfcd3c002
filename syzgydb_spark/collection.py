"""The Collection: the reference's core abstraction as a Spark table.

Reference: one collection = one crash-safe append-style file with a
JSON options header, an id→offset index, and an in-memory LSH forest
rebuilt on open (/root/reference/collection.go:194-314, spanfile.go).

Here: one collection = a directory of hash-bucketed Parquet plus a tiny
per-bucket file manifest —

    <path>/options.json                  collection options (≙ the JSON
                                         header record, collection.go:241-272)
    <path>/manifest.json                 {"version": N, "buckets":
                                         {"<b>": ["v3-part-...parquet", ...]}}
                                         — the live-file list per bucket,
                                         atomically replaced (≙ spanfile's
                                         monotonic sequence numbers)
    <path>/data/bucket=<b>/v{N}-*.parquet data, hash-partitioned by
                                         pmod(xxhash64(id), n_buckets)

A mutation stages ONLY the touched buckets to a scratch directory, as
exactly one file per touched bucket (each bucket's rows are written by
one task), renames the new files into ``data/bucket=<b>/`` (invisible
to readers: the manifest still lists the old files), atomically flips
the manifest, then deletes the replaced files. So a bucket is one file
after any commit, like the reference's single span file, and the
number of files a scan opens never grows with the number of commits.
Untouched buckets are never read, never written, and their files are
byte-identical across the commit (asserted by
tests/test_collection.py::test_upsert_rewrites_only_touched_buckets).
This is a miniature Delta transaction log — on a production cluster
this layer is one ``DeltaTable.merge`` call; the semantics (last write
per id wins, readers never see partial writes) are the same ones
spanfile gets from shadow-writes + sequence numbers
(spanfile.go:282-357, 459-470). None of that machinery is rebuilt here.
A crash between staging and the manifest flip strands orphan files
that no reader ever sees; ``vacuum()`` removes them.

Mutation protocol (reference: one per-collection RWMutex serializes
all mutation, collection.go:199, 569-570). Every mutation —
``add_documents``, ``update_metadata``, ``remove``, ``compact``,
``enable_pq``, ``enable_ivf``, ``promote_paths`` — is a ``step(man)``
function run by ``Collection._mutate``, which

  1. holds an in-process per-path re-entrant lock, so same-process
     writers wait instead of retrying (one server process with a
     ThreadingHTTPServer is the reference's deployment shape);
  2. hands each attempt ONE fresh manifest snapshot; the step reads,
     merges and commits against that snapshot, so the version CAS on
     the manifest flip (under a POSIX flock) guards the whole
     read-merge-write span against writers in other processes;
  3. retries on a lost CAS (``ManifestConflictError``) or a stale scan
     (a data file reclaimed by another process's commit), with
     jittered backoff, up to ``_MAX_COMMIT_RETRIES`` attempts, and then
     raises ``ManifestConflictError``. Any other exception propagates.

The lock is the fast path; the CAS is the correctness backstop. On a
production cluster the whole protocol is one Delta optimistic commit
with the same no-lost-update semantics. Readers never take the lock:
``_raw`` re-snapshots on its own when a live scan loses a file.

Schema: ``id BIGINT, vector ARRAY<...>, metadata STRING(JSON)`` with the
vector element type set by the quantization tier (SURVEY.md §1.2):
64→DOUBLE, 32→FLOAT, 16/8/4→INT codes in [0, 2^b-1] over a clamped
[-1,1] domain (quantization.go:5-36). ``df()`` always exposes the
dequantized ARRAY<DOUBLE> view. Live scans declare the stored schema
(``_stored_schema``) instead of inferring it from a parquet footer, and
point ops compute an id's bucket in Python (``bucket_of``), so a
``get`` runs one Spark job: the scan of the id's one file.

Index columns (LSH signatures, PQ codes, IVF cells) are materialized
at write time when the collection has an index configured — no rebuild
on open ever. ``add_documents`` picks its path by the input's type. A
Python list (the REST insert, ``import_json``) is validated, deduped
and routed in Python and encoded as an Arrow ``LocalRelation``, so
Spark evaluates ``_encode``'s expressions on the driver, and the index
columns come from the numpy closures the index operators' UDFs wrap:
the upsert runs only the bucket shuffle and the write, with no Python
worker. A DataFrame (a parquet read, the streaming sink,
``add_texts``) is validated by one Spark job and encoded on the
executors by the index UDFs.
"""

from __future__ import annotations

import copy
import json
import logging
import operator
import os
import shutil
import threading
import uuid
from dataclasses import dataclass, field, asdict

logger = logging.getLogger(__name__)

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from syzgydb_spark import sqltext as S
from syzgydb_spark.functions.vector import distance as dist_fn
from syzgydb_spark.operators import knn
from syzgydb_spark.operators.lsh import LshIndex
from syzgydb_spark.query.compiler import filter_sql
from syzgydb_spark.storage import (
    FaultInjectingBackend,
    ManifestBackend,
    ManifestConflictError,
    SqliteCatalogBackend,
    is_stale_scan_error as _is_stale_scan_error,
)


# ---- write serialization: see "Mutation protocol" in the module
#      docstring and Collection._mutate ----

_LOCK_REGISTRY: dict[str, threading.RLock] = {}
_LOCK_REGISTRY_GUARD = threading.Lock()


def _mutation_lock(path: str) -> threading.RLock:
    key = os.path.abspath(path)
    with _LOCK_REGISTRY_GUARD:
        return _LOCK_REGISTRY.setdefault(key, threading.RLock())


# _is_stale_scan_error and ManifestConflictError live in
# syzgydb_spark.storage (the backend seam) and are re-exported above —
# existing imports `from syzgydb_spark.collection import
# ManifestConflictError` keep working.

#: Commit-race retry budget. 12, not a handful: an N-process writer
#: storm makes losing several consecutive CAS races NORMAL for the
#: unluckiest writer (observed: 3 writers × 4 commits each exhausted 5
#: retries on a loaded box), and each retry re-merges against the
#: fresh manifest so retrying is always correct — the budget exists
#: only to bound genuinely wedged states (e.g. a corrupt file
#: masquerading as a stale scan), not to ration contention.
_MAX_COMMIT_RETRIES = 12

#: Rows per numpy call when the driver computes a list batch's index
#: columns (``Collection._index_values``), so the encoders' temporaries
#: stay bounded whatever the batch size; Arrow's default batch size.
_ENCODE_CHUNK = 10_000

#: Most ids a list upsert drops by an ``id IN (...)`` predicate
#: (``Collection._merge``); a larger batch anti-joins its ids instead.
#: The IN list's analysis grows with its length (4 s at 100,000 ids)
#: while the anti-join's broadcast costs one fixed extra job; the two
#: took the same time at about 2,000 ids (local[4], 10,000-row table).
_ID_PREDICATE_MAX = 2_000


def _conflict_backoff(attempt: int) -> None:
    """Jittered exponential backoff between commit-race retries.
    Without it, N writers that collided once re-collide in lockstep
    (each re-merge takes a similar wall time), burning the whole retry
    budget on the same race; the jitter de-synchronizes them. Bounded
    at 2 s so a wedged writer still fails fast-ish."""
    import random
    import time

    time.sleep(random.uniform(0.0, min(0.1 * (2 ** attempt), 2.0)))


# Spark's XXH64 primes (org.apache.spark.sql.catalyst.expressions.XXH64)
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxhash64_long(value: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of one BIGINT (``XXH64.hashLong``; 42 is the
    seed ``F.xxhash64`` uses), as a signed int64."""
    h = (seed + _XXH_P5 + 8) & _U64
    h ^= _rotl64((value * _XXH_P2) & _U64, 31) * _XXH_P1 & _U64
    h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _U64
    h ^= h >> 33
    h = h * _XXH_P2 & _U64
    h ^= h >> 29
    h = h * _XXH_P3 & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket_of(doc_id: int, n_buckets: int) -> int:
    """The bucket ``_encode`` stores ``doc_id`` in:
    ``pmod(xxhash64(id), n_buckets)``, evaluated in Python (Python's
    ``%`` by a positive modulus is ``pmod``)."""
    return _xxhash64_long(int(doc_id)) % n_buckets


# valid search tiers; validated up front so a typo ('ifv') errors
# instead of silently falling through to the exact full scan
_PRECISIONS = ("exact", "medium", "pq", "ivf", "ivfpq")

#: CollectionOptions.storage_backend → backend class (the storage seam,
#: syzgydb_spark/storage.py).
_STORAGE_BACKENDS = {
    "manifest": ManifestBackend,
    "sqlite": SqliteCatalogBackend,
    "delta-sim": FaultInjectingBackend,
}


def _id_in(ids) -> Column:
    """``id IN (ids)``, built from one SQL string: ``Column.isin`` makes
    a py4j call per literal. ``ids`` must be non-empty; each goes
    through ``operator.index``, so only integers reach the SQL text,
    as BIGINT literals (``7L``): INT literals would each get a cast
    for the analyzer to add and the optimizer to fold."""
    return F.expr(f"id IN ({','.join(f'{operator.index(i)}L' for i in ids)})")


def _listed_file_count(df: DataFrame) -> int:
    """How many files the scan ``df`` listed (two py4j calls: the
    listing's length, not its paths)."""
    return len(df._jdf.inputFiles())


def _observe_full_scan(df: DataFrame, observation) -> DataFrame:
    """Attach ``observation`` to a relation every row of which is
    searched: points_total == points_searched, the honest 100% of the
    exact and ADC tiers (a caller-created Observation must end up on
    SOME plan, or its ``.get`` blocks forever)."""
    return knn.observe_searched(df, observation, "true")


@dataclass
class CollectionOptions:
    """Mirrors the reference CollectionOptions (collection.go:31-48)."""

    name: str
    dimension_count: int
    distance_method: str = "euclidean"  # euclidean | cosine
    quantization: int = 64              # 4 | 8 | 16 | 32 | 64
    n_buckets: int = 16
    lsh: dict | None = None             # LshIndex.to_dict() or None
    pq: dict | None = None              # PqIndex.to_dict() or None (enable_pq)
    ivf: dict | None = None             # IvfIndex.to_dict() or None (enable_ivf)
    #: Optional declared metadata schema (DDL, e.g. "lang STRING,
    #: score DOUBLE", or "MAP<STRING, DOUBLE>"). When set, metadata is
    #: STORED as that struct/map type and ``search(filter=...)``
    #: compiles through the typed fast path (query/typed.py): the whole
    #: predicate joins whole-stage codegen and pushable conjuncts reach
    #: the parquet scan — no variant machinery. None (the default) is
    #: the reference's schemaless JSON contract.
    metadata_schema: str | None = None
    #: Promoted hot-path metadata columns (schemaless collections
    #: only): ``{"user.age": {"col": "_pv0", "type": "double"}}``.
    #: Managed by ``promote_paths()`` — each path is materialized as a
    #: plain typed column at commit time, and ``search(filter=...)``
    #: ANDs a conservative pushable shadow of the predicate over these
    #: columns next to the exact variant evaluation, so hot predicates
    #: get codegen + parquet row-group pruning without declaring a full
    #: ``metadata_schema``.
    promoted: dict | None = None
    #: Measured recall-vs-cost curves per ANN tier, written by
    #: ``calibrate_recall()``: ``{"lsh": [{"n_probes": 2, "recall":
    #: 0.84, "cand_frac": 0.06}, ...], "ivf": [...]}``. Consumed by
    #: ``search(target_recall=...)`` to pick the cheapest probe config
    #: meeting a recall target instead of hand-tuning n_probes.
    recall_curve: dict | None = None
    #: Keep replaced data files and per-version manifest copies so any
    #: prior version stays readable (``snapshot(version)``) until
    #: ``expire_history()`` prunes it — the Delta/Iceberg time-travel
    #: contract. Off by default: the reference reclaims replaced spans
    #: eagerly (spanfile free-span reuse), and so do we.
    retain_history: bool = False
    #: Write a parquet bloom filter on the ``id`` column of every data
    #: file (adaptive sizing — parquet-mr picks the bitset size from
    #: the observed NDV). Zone-map clustering sorts files by (bucket,
    #: ivf_cell, id), so once an IVF index exists ``id`` is NOT
    #: monotonic within a file and row-group min/max stats can no
    #: longer prune point lookups tightly; the bloom restores
    #: row-group-level skipping for ``id = ?`` scans at the cost of
    #: ~1-2 bytes/row. The reader side needs nothing: Spark pushes the
    #: Eq predicate and parquet-mr consults the bloom automatically.
    id_bloom_filter: bool = True
    #: Physical table format behind the Collection (the storage seam,
    #: syzgydb_spark/storage.py): "manifest" (bespoke bucketed-Parquet
    #: + JSON-manifest CAS — the single-box default every test runs)
    #: "sqlite" (same data layout, manifest in a SQLite catalog with a
    #: transactional CAS — the metastore-commit-protocol stand-in),
    #: or "delta-sim" (the fault-injecting Delta-semantics simulator:
    #: partition-level conflicts, losers-leave-orphans, VACUUM RETAIN —
    #: the behaviors a Delta Lake adapter relies on; docs/DELTA.md).
    storage_backend: str = "manifest"

    def __post_init__(self):
        if self.storage_backend not in _STORAGE_BACKENDS:
            raise ValueError(f"unknown storage_backend {self.storage_backend!r}")
        if self.quantization not in (4, 8, 16, 32, 64):
            raise ValueError(f"invalid quantization {self.quantization}")
        if self.distance_method not in ("euclidean", "cosine"):
            raise ValueError(f"invalid distance method {self.distance_method}")
        if self.metadata_schema is not None:
            dt = _parse_metadata_schema(self.metadata_schema)
            if not isinstance(dt, (T.StructType, T.MapType)):
                raise ValueError(
                    f"metadata_schema must be a struct or map type, got "
                    f"{dt.simpleString()}"
                )


def _parse_metadata_schema(ddl: str):
    """DDL → DataType; bare field lists ("a STRING, b DOUBLE") parse as
    a struct, full type strings ("MAP<STRING, DOUBLE>") as themselves."""
    try:
        return T._parse_datatype_string(ddl)
    except Exception as e:
        raise ValueError(f"invalid metadata_schema {ddl!r}: {e}") from e


def _quantize_sql(col: str, bits: int) -> str:
    """Encode (SQL text over the vector expression ``col``): clamp
    [-1,1] → [0, 2^bits - 1] int codes for 4/8/16; raw float32/float64
    for 32/64 (quantization.go:5-36, collection.go:713-744)."""
    if bits == 64:
        return f"CAST({col} AS ARRAY<DOUBLE>)"
    if bits == 32:
        return f"CAST({col} AS ARRAY<FLOAT>)"
    steps = S.double((1 << bits) - 1)
    return (
        f"transform(CAST({col} AS ARRAY<DOUBLE>), x -> CAST(round("
        f"(least(greatest(x, -1.0D), 1.0D) + 1.0D) / 2.0D * {steps}) AS INT))"
    )


def _dequantize_sql(col: str, bits: int) -> str:
    if bits in (32, 64):
        return f"CAST({col} AS ARRAY<DOUBLE>)"
    steps = S.double((1 << bits) - 1)
    return f"transform({col}, q -> CAST(q AS DOUBLE) / {steps} * 2.0D - 1.0D)"


class Collection:
    SCHEMA_BASE = "id BIGINT, vector ARRAY<DOUBLE>, metadata STRING"

    def __init__(self, spark: SparkSession, path: str, options: CollectionOptions):
        self.spark = spark
        self.path = path
        self.options = options
        self._lock = _mutation_lock(path)
        self._schema = None  # stored-layout read schema; see _stored_schema
        # the storage seam: every manifest/commit/vacuum/history call
        # below goes through this object; swapping the table format
        # means swapping this one attribute (see syzgydb_spark/storage.py
        # and docs/DELTA.md)
        self.storage = _STORAGE_BACKENDS[options.storage_backend](
            path, retain_history=options.retain_history
        )
        self.metadata_type = (
            _parse_metadata_schema(options.metadata_schema)
            if options.metadata_schema
            else None
        )
        if options.lsh is not None:
            # the collection already knows dim/method — default them
            # (plus the tuning constants, reference collection.go:292:
            # numTrees=5; planes sized like its tree depth) so
            # ``lsh={}`` or ``lsh={"num_tables": 8}`` just works
            # instead of KeyError'ing on keys the caller shouldn't
            # have to repeat. Unknown keys error loudly (a typo like
            # 'num_table' would otherwise silently use the default).
            lsh_conf = dict(options.lsh)
            lsh_conf.setdefault("dim", options.dimension_count)
            lsh_conf.setdefault("method", options.distance_method)
            lsh_conf.setdefault("seed", 42)
            lsh_conf.setdefault("num_tables", 5)
            lsh_conf.setdefault("num_planes", 8)
            known = {"dim", "num_tables", "num_planes", "seed", "method", "bucket_width"}
            unknown = set(lsh_conf) - known
            if unknown:
                raise ValueError(
                    f"unknown lsh option(s) {sorted(unknown)}; expected {sorted(known)}"
                )
            self.index = LshIndex.from_dict(lsh_conf)
            # persist the RESOLVED config so reopen never re-defaults
            self.options.lsh = self.index.to_dict()
        else:
            self.index = None
        if options.pq:
            from syzgydb_spark.operators.pq import PqIndex

            self.pq_index = PqIndex.from_dict(options.pq)
        else:
            self.pq_index = None
        if options.ivf:
            from syzgydb_spark.operators.ivf import IvfIndex

            self.ivf_index = IvfIndex.from_dict(options.ivf)
        else:
            self.ivf_index = None

    # ---- lifecycle (reference NewCollection, collection.go:224-314) ----
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        options: CollectionOptions,
        *,
        overwrite: bool = False,
    ) -> "Collection":
        if os.path.exists(os.path.join(path, "options.json")):
            if not overwrite:
                raise FileExistsError(f"collection exists at {path}")
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        coll = cls(spark, path, options)
        coll._save_options()
        coll.storage.initialize()
        return coll

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Collection":
        with open(os.path.join(path, "options.json")) as f:
            opts = CollectionOptions(**json.load(f))
        return cls(spark, path, opts)

    def _save_options(self) -> None:
        """Persist ``self.options`` to options.json atomically: write a
        temp file, then ``os.replace`` it over the live one (the
        manifest flip's pattern), so a failed write leaves the previous
        options intact instead of a truncated document."""
        dst = os.path.join(self.path, "options.json")
        tmp = f"{dst}.tmp.{uuid.uuid4().hex[:8]}"
        try:
            with open(tmp, "w") as f:
                json.dump(asdict(self.options), f, indent=2)
            os.replace(tmp, dst)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def _empty_df(self) -> DataFrame:
        df = self.spark.createDataFrame([], self.SCHEMA_BASE)
        return self._encode(df)

    def _stored_schema(self) -> T.StructType:
        """The data-file schema ``_encode`` writes for the current index
        state, minus the ``bucket`` partition column (the scan derives
        it from the path, as an int, exactly as inference does).
        Declaring it means building a scan opens no parquet footer: no
        schema-inference job per read. Derived once per index state
        (``_set_index_state`` resets it): deriving it plans an encode of
        an empty frame, about as long as a whole point ``get``."""
        if self._schema is None:
            self._schema = T.StructType(
                [f for f in self._empty_df().schema.fields if f.name != "bucket"]
            )
        return self._schema

    # ---- storage (thin delegations through the backend seam; the
    #      names and contracts are the ones the commit loop and the
    #      tests pin — see syzgydb_spark/storage.py for the contract
    #      table and docs/DELTA.md for the cluster mapping) ----
    def _manifest(self) -> dict:
        return self.storage.read_manifest()

    def _data_dir(self) -> str:
        return self.storage.data_dir()

    def _flip_manifest(self, manifest: dict, *, expected_version: int | None = None) -> None:
        """Atomically publish ``manifest``; with ``expected_version`` a
        cross-process CAS (ManifestConflictError on a lost race). Kept
        as a Collection method — not just backend-internal — because
        the commit path routes its publish step through it, so tests
        (and subclasses) can intercept the flip on an instance."""
        self.storage.flip_manifest(manifest, expected_version=expected_version)

    def _commit_buckets(
        self,
        encoded: DataFrame,
        touched: list[int],
        *,
        base_manifest: dict | None = None,
        small_write: bool = False,
    ) -> None:
        """Replace the live files of exactly ``touched`` buckets with the
        rows of ``encoded`` (which must contain only those buckets),
        one file per bucket (``small_write``: see
        ``ManifestBackend.commit_buckets``).

        stage → rename-in (invisible: manifest still lists old files) →
        atomic CAS manifest flip → delete replaced files. Buckets not in
        ``touched`` are untouched on disk. At cluster scale the rename
        step is a metadata-only move and the manifest is the analog of a
        Delta log commit; file listing never requires a directory scan.
        On a CAS conflict the just-renamed files are removed (they were
        never visible) and ManifestConflictError propagates so the
        caller can re-merge against the winner's manifest and retry.

        ``base_manifest`` MUST be the same manifest snapshot the caller
        used to READ the rows it merged (every ``_mutate`` step passes
        the snapshot it was handed):
        the CAS then guards the full read-merge-write span. If this
        method re-read the manifest itself, a cross-process commit
        landing between the caller's read and this commit would pass
        the CAS and silently revert the other writer's rows — a lost
        update the eager-delete path only caught by accident (the stale
        scan hit deleted files) and ``retain_history`` would not catch
        at all.

        The mechanics live in the storage backend
        (ManifestBackend.commit_buckets); the publish step routes back
        through ``self._flip_manifest`` so instance-level interception
        (the crash/race tests) still guards the real commit path.
        """
        manifest = base_manifest if base_manifest is not None else self._manifest()
        self.storage.commit_buckets(
            encoded,
            touched,
            manifest,
            bloom_on_id=self.options.id_bloom_filter,
            flip_fn=self._flip_manifest,
            small_write=small_write,
        )

    def _mutate(self, what: str, step):
        """The one commit loop (module docstring, "Mutation protocol"):
        under the mutation lock, call ``step(manifest)`` with a fresh
        manifest snapshot per attempt and return its result. A lost CAS
        or a stale scan (another process reclaimed a file the step
        read) retries after a jittered backoff; any other exception
        propagates. ``step`` must read and commit against the snapshot
        it is handed (``base_manifest=man``), so every retry re-merges
        against the winner's state."""
        with self._lock:
            for attempt in range(_MAX_COMMIT_RETRIES):
                if attempt:
                    _conflict_backoff(attempt)
                try:
                    return step(self._manifest())
                except ManifestConflictError:
                    continue
                except Exception as e:
                    if not _is_stale_scan_error(e):
                        raise
            raise ManifestConflictError(
                f"{what} lost the commit race {_MAX_COMMIT_RETRIES} times"
            )

    def _reindex(self, what: str, options: dict, indexes: dict) -> None:
        """Rewrite every live bucket through ``_encode`` of new index
        state, then install that state (enable_pq / enable_ivf /
        promote_paths). ``options`` maps CollectionOptions fields and
        ``indexes`` instance attributes to their new values. The commit
        encodes through a staged copy of this Collection, so lock-free
        readers keep the old state, and the old read schema, until the
        new files are live; the pre-index files are read index-free
        (``_decoded_plain``). On any failure the in-memory state is the
        old one, so it never claims an index the files and options.json
        don't have; on success options.json is saved."""
        staged = copy.copy(self)
        staged.options = copy.copy(self.options)
        staged._set_index_state(options, indexes)

        def step(man):
            touched = [int(b) for b in man["buckets"]]
            if touched:
                self._commit_buckets(
                    staged._encode(self._decoded_plain(man)), touched,
                    base_manifest=man,
                )

        with self._lock:
            self._mutate(what, step)
            prev_opts = {k: getattr(self.options, k) for k in options}
            prev_idx = {k: getattr(self, k) for k in indexes}
            self._set_index_state(options, indexes)
            try:
                self._save_options()
            except BaseException:
                self._set_index_state(prev_opts, prev_idx)
                raise

    def _set_index_state(self, options: dict, indexes: dict) -> None:
        """Set CollectionOptions fields and index attributes, and drop
        the read schema derived from the old ones (``_stored_schema``)."""
        for k, v in options.items():
            setattr(self.options, k, v)
        for k, v in indexes.items():
            setattr(self, k, v)
        self._schema = None

    def vacuum(self, *, grace_seconds: float = 300.0) -> int:
        """Delete data files not referenced by the live manifest — or,
        with history retained, by ANY retained version's manifest
        (orphans from a crash between staging and the manifest flip).
        Returns the number of files removed.

        Holds the mutation lock against in-process writers. A writer
        in ANOTHER process is invisible to the lock, and between its
        rename-in and its manifest flip its files look exactly like
        orphans — deleting them would make the winning flip reference
        missing data. Those in-flight files are distinguishable: an
        uncommitted file's ``v{N}-`` prefix is AHEAD of the live
        manifest version, so unreferenced future-version files younger
        than ``grace_seconds`` are skipped (Delta's VACUUM retention
        contract). Crash debris ages past the window or falls behind
        the version counter and is reclaimed on a later pass; pass
        ``grace_seconds=0`` when no other writer can be active to
        reclaim a known-dead commit immediately."""
        with self._lock:
            return self.storage.vacuum(grace_seconds=grace_seconds)

    # ---- history / time travel (extension; the reference reclaims
    #      replaced spans eagerly and keeps no versions) ----
    def _history_dir(self) -> str:
        return self.storage.history_dir()

    def history(self) -> list[int]:
        """Readable versions, ascending. Without ``retain_history`` only
        the live version is readable."""
        return self.storage.history()

    def _referenced_files(self) -> set[tuple[str, str]]:
        return self.storage.referenced_files()

    def snapshot(self, version: int) -> DataFrame:
        """Decoded view of the collection as of ``version`` (time
        travel). Columns added by later index enables (pq_code,
        ivf_cell, lsh signatures) are projected only if the snapshot's
        files actually carry them: the scan infers its schema from the
        files, which may predate an index."""
        raw = self._raw(manifest=self.storage.manifest_at(version), declared=False)
        have = set(raw.columns)
        return raw.selectExpr(*self._decoded([c for c in self._index_cols() if c in have]))

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Row-level change feed between two readable versions (CDC —
        the lakehouse 'table_changes' contract): one row per id whose
        content differs, ``change`` ∈ insert | update | delete, with
        the v_to image for inserts/updates and the v_from image for
        deletes. Requires ``retain_history`` (or v_from == v_to == the
        live version). Plan: one full-outer equi-join of the two
        snapshots on id — both sides hash-partition on the id, nothing
        wider; unchanged rows are filtered by an eqNullSafe comparison
        inside the join's own stage."""
        a = self.snapshot(v_from).select(
            "id",
            F.col("vector").alias("_va"),
            F.col("metadata").alias("_ma"),
            F.lit(True).alias("_pa"),
        )
        b = self.snapshot(v_to).select(
            "id",
            F.col("vector").alias("_vb"),
            F.col("metadata").alias("_mb"),
            F.lit(True).alias("_pb"),
        )
        j = a.join(b, "id", "full_outer")
        in_a = F.col("_pa").isNotNull()
        in_b = F.col("_pb").isNotNull()
        change = (
            F.when(~in_a, F.lit("insert"))
            .when(~in_b, F.lit("delete"))
            .when(
                F.col("_va").eqNullSafe(F.col("_vb"))
                & F.col("_ma").eqNullSafe(F.col("_mb")),
                F.lit(None),
            )
            .otherwise(F.lit("update"))
        )
        return (
            j.withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(
                "id",
                "change",
                F.when(F.col("change") == "delete", F.col("_va"))
                .otherwise(F.col("_vb"))
                .alias("vector"),
                F.when(F.col("change") == "delete", F.col("_ma"))
                .otherwise(F.col("_mb"))
                .alias("metadata"),
            )
        )

    def expire_history(self, keep_last: int = 1) -> int:
        """Drop all but the ``keep_last`` most recent versions (the live
        version always survives), then delete data files no remaining
        manifest references. Returns the number of data files removed —
        the time-travel analog of Delta's VACUUM retention."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        with self._lock:
            versions = self.history()
            live_v = self._manifest()["version"]
            keep = set(versions[-keep_last:]) | {live_v}
            self.storage.drop_history_except(keep)
            return self.vacuum()

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Rewrite buckets whose live file count exceeds one into a
        single file each. Every commit already writes one file per
        touched bucket (``ManifestBackend.commit_buckets``), so a
        collection written by this code never needs it: compaction
        folds layouts written before that rule, where each commit
        added a file per input partition per bucket. Runs under the
        same lock + CAS-retry protocol as any mutation — concurrent
        upserts either serialize before or retry after. At 100 TB you'd
        bound output file size instead with
        ``spark.sql.files.maxRecordsPerFile``; bucket granularity here
        is n_buckets-tunable. Readers are never blocked (old files stay
        until the flip; with ``retain_history`` they stay readable via
        ``snapshot()``)."""

        def step(man):
            # bucket selection, read, and commit all run against the
            # attempt's snapshot — a concurrent commit forces a retry
            # that re-selects (so buckets fragmented meanwhile are
            # picked up, and the returned stats describe what was
            # actually compacted)
            todo = sorted(
                int(b) for b, files in man["buckets"].items()
                if len(files) > 1 and (buckets is None or int(b) in buckets)
            )
            if todo:
                self._commit_buckets(
                    self._raw(buckets=todo, manifest=man), todo, base_manifest=man
                )
            return todo, sum(len(man["buckets"][str(b)]) for b in todo)

        todo, before = self._mutate("compaction", step)
        if not todo:
            return {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
        after = sum(
            len(self._manifest()["buckets"].get(str(b), [])) for b in todo
        )
        return {
            "buckets_compacted": len(todo),
            "files_before": before,
            "files_after": after,
        }

    def _meta_expr(self, df: DataFrame):
        """The stored metadata expression: the raw JSON string
        (reference contract) or, on a schema'd collection, the declared
        struct/map type — JSON-string inputs are parsed at WRITE time so
        every later read is a plain typed column."""
        if self.metadata_type is None:
            return F.col("metadata").cast("string")
        if df.schema["metadata"].dataType == self.metadata_type:
            return F.col("metadata")
        return F.from_json(F.col("metadata").cast("string"), self.metadata_type)

    def _encode(self, df: DataFrame, *, indexed: bool = False) -> DataFrame:
        """id/vector/metadata → stored layout (quantized vector, bucket,
        promoted columns, index columns). The index operators compute
        the index columns from the dequantized stored vector on the
        executors, or, with ``indexed``, ``df`` already carries them
        (``_index_values`` computed them on the driver) and they pass
        through."""
        index_cols = self._index_cols() if indexed else []
        out = df.select(
            F.col("id").cast("long"),
            F.expr(_quantize_sql(S.ident("vector"), self.options.quantization)).alias("vector_enc"),
            self._meta_expr(df).alias("metadata"),
            *index_cols,
        ).withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(self.options.n_buckets)))
        if self.options.promoted and self.metadata_type is None:
            from syzgydb_spark.query.promoted import promoted_col

            for path, spec in self.options.promoted.items():
                out = out.withColumn(
                    spec["col"],
                    promoted_col("metadata", path, spec["type"]),
                )
        if indexed:
            return out.select(*[c for c in out.columns if c not in index_cols], *index_cols)
        if self.index is not None:
            dec = F.expr(_dequantize_sql(S.ident("vector_enc"), self.options.quantization))
            out = self.index.with_signatures(out.withColumn("_vec", dec), "_vec").drop("_vec")
        if self.pq_index is not None:
            dec = F.expr(_dequantize_sql(S.ident("vector_enc"), self.options.quantization))
            out = self.pq_index.encode(out.withColumn("_vec", dec), "_vec").drop("_vec")
        if self.ivf_index is not None:
            dec = F.expr(_dequantize_sql(S.ident("vector_enc"), self.options.quantization))
            out = self.ivf_index.with_cells(out.withColumn("_vec", dec), "_vec").drop("_vec")
        return out

    def _index_cols(self) -> list[str]:
        """The stored index columns, in ``_encode``'s order."""
        cols = []
        if self.index is not None:
            cols += self.index.sig_cols()
        if self.pq_index is not None:
            cols.append("pq_code")
        if self.ivf_index is not None:
            cols.append("ivf_cell")
        return cols

    def _index_values(self, local: DataFrame) -> dict:
        """The index columns of a list batch, computed on the driver by
        the numpy closures the index operators' executor UDFs run,
        ``_ENCODE_CHUNK`` rows at a time. Their input is the dequantized
        stored vector, read back from ``local`` through the stored
        encoding: collected with no Spark job while ``local`` is a
        ``LocalRelation``, and as Arrow (one job) past
        ``spark.sql.execution.arrow.localRelationThreshold``."""
        bits = self.options.quantization
        vec = local.select(
            F.expr(_dequantize_sql(_quantize_sql(S.ident("vector"), bits), bits))
        )
        if local.isLocal():
            mat = np.array([r[0] for r in vec.collect()], dtype=np.float64)
        else:
            col = vec.toArrow().column(0).combine_chunks()
            mat = col.flatten().to_numpy().reshape(len(col), -1)
        indexes = [i for i in (self.index, self.pq_index, self.ivf_index) if i is not None]
        parts: dict = {c: [] for c in self._index_cols()}
        for lo in range(0, len(mat), _ENCODE_CHUNK):
            for idx in indexes:
                for name, values in idx.column_values(mat[lo : lo + _ENCODE_CHUNK]).items():
                    parts[name].append(values)
        return {name: np.concatenate(chunks) for name, chunks in parts.items()}

    def _raw(
        self,
        buckets: list[int] | None = None,
        *,
        manifest: dict | None = None,
        declared: bool = True,
    ) -> DataFrame:
        """Live-file scan. With ``buckets``, list ONLY those buckets'
        files — at 100 TB a point mutation must not even open the other
        buckets' parquet footers (VERDICT r2 #2). With ``manifest``, scan
        that (historical) file list instead of the live one. The scan
        declares ``_stored_schema()``; ``declared=False`` infers it from
        the files instead (``snapshot``: old files may lack columns a
        later index added, which a declared read would return as null).

        The ``read.parquet`` CALL is itself a file access (it checks
        that every path exists; schema inference also reads a parquet
        footer eagerly), so a cross-process reclaim landing between the
        manifest snapshot and this line throws here, before any guarded
        action — the 3-process storm test caught exactly that escape
        under load. Construction-time stale scans therefore convert
        like action-time ones: with a caller-pinned ``manifest`` they
        raise ``ManifestConflictError`` (the caller's CAS loop
        re-merges on a fresh snapshot); a live read simply re-snapshots
        and retries here, which for a reader is just "see the newest
        committed state"."""
        for _attempt in range(_MAX_COMMIT_RETRIES):
            if _attempt:
                _conflict_backoff(_attempt)
            paths = self.storage.data_paths(
                manifest or self._manifest(), buckets
            )
            if not paths:
                # an empty collection has no parquet footers to infer from
                return self._empty_df()
            # basePath keeps `bucket` as a partition column → partition
            # pruning on bucket-equality predicates is free
            reader = self.spark.read.option("basePath", self._data_dir())
            if declared:
                reader = reader.schema(self._stored_schema())
            try:
                df = reader.parquet(*paths)
            except Exception as e:
                if not _is_stale_scan_error(e):
                    raise
                if manifest is not None:
                    raise ManifestConflictError(
                        "data file reclaimed by a concurrent commit during "
                        "scan construction; re-merge on a fresh manifest"
                    ) from e
                continue
            # Spark's listing skips a path that vanished after its
            # existence check, so a scan some of whose files a
            # concurrent commit reclaimed in that window silently reads
            # fewer rows (and one that lost EVERY file has no `bucket`
            # partition column: a merge over it failed to resolve
            # `bucket` in the storm test). A listing shorter than the
            # manifest's file list is the same stale scan.
            if _listed_file_count(df) == len(set(paths)):
                return df
            if manifest is not None:
                raise ManifestConflictError(
                    "data file reclaimed by a concurrent commit during "
                    "scan listing; re-merge on a fresh manifest"
                )
        raise ManifestConflictError(
            f"live scan lost the reclaim race {_MAX_COMMIT_RETRIES} times"
        )

    def _buckets_for_ids(self, ids) -> list[int]:
        """``bucket = pmod(xxhash64(id), n_buckets)`` is a closed-form
        function of the id — computed in Python (``bucket_of``), so
        routing a point op runs no Spark job and opens no file."""
        return sorted({bucket_of(i, self.options.n_buckets) for i in ids})

    def df(
        self,
        buckets: list[int] | None = None,
        *,
        manifest: dict | None = None,
    ) -> DataFrame:
        """Decoded view: id, vector ARRAY<DOUBLE>, metadata (+ lsh sigs)."""
        extra = self._index_cols()
        if self.options.promoted and self.metadata_type is None:
            # promoted hot-path columns ride along so the pushdown
            # shadow of a filter can bind to them (result projections
            # drop them at the end of every search path)
            extra += [s["col"] for s in self.options.promoted.values()]
        return self._raw(buckets, manifest=manifest).selectExpr(*self._decoded(extra))

    def _decoded(self, extra: list[str]) -> list[str]:
        """The decoded projection as ``selectExpr`` strings (one py4j
        call for the whole view): id, the dequantized vector, metadata,
        then the ``extra`` stored columns."""
        vector = _dequantize_sql(S.ident("vector_enc"), self.options.quantization)
        return ["id", f"{vector} AS vector", "metadata", *map(S.column, extra)]

    def _decoded_plain(self, manifest: dict) -> DataFrame:
        """(id, vector, metadata) decoded view of a manifest snapshot
        WITHOUT index-column projection — the reindex paths read the
        pre-index files through this and encode them with the new
        index state."""
        return self._raw(manifest=manifest).selectExpr(*self._decoded([]))

    # ---- mutation (AddDocument / UpdateDocument / removeDocument,
    #      collection.go:427-521) ----
    def add_documents(self, docs) -> None:
        """Upsert rows ``(id, vector, metadata)`` — last write per id
        wins, like the reference's overwrite-on-same-id
        (collection.go:427-457). Accepts a DataFrame or any other
        iterable of (id, vector, metadata) tuples; metadata is a JSON
        string, or a dict/list that is serialized. Only buckets
        containing touched ids are rewritten. A vector whose length is
        not the dimension, a null vector included, and a null id raise
        ``ValueError`` (collection.go:432-434); an empty batch commits
        nothing.

        The input's type picks the path. A list is validated, deduped
        (its last occurrence of an id wins) and routed (``bucket_of``)
        in Python, then encoded as a driver-local relation: the stored
        columns by ``_encode``'s expressions, the index columns by
        ``_index_values``. Up to ``_ID_PREDICATE_MAX`` ids, its upsert
        runs two Spark jobs (the bucket shuffle and the write) and no
        Python worker. A DataFrame is validated and routed by one Spark
        job, deduped by a window, and its index columns come from the
        index operators' UDFs."""
        if isinstance(docs, DataFrame):
            self._add_frame(docs)
            return
        dim = self.options.dimension_count
        batch: dict = {}
        for doc_id, vec, meta in docs:
            if doc_id is None:
                raise ValueError("document id must not be null")
            if vec is None or len(vec) != dim:
                raise ValueError(f"vector dimension mismatch: expected {dim}")
            # ints are accepted as vector components; dict/list metadata
            # is stored as its JSON text
            batch[operator.index(doc_id)] = (
                [float(x) for x in vec],
                meta if isinstance(meta, (str, type(None))) else json.dumps(meta),
            )
        if not batch:
            return
        ids = list(batch)
        table = pa.table({
            "id": pa.array(ids, pa.int64()),
            "vector": pa.array([v for v, _ in batch.values()], pa.list_(pa.float64())),
            "metadata": pa.array([m for _, m in batch.values()], pa.string()),
        })
        # an Arrow table becomes a LocalRelation, which Spark evaluates
        # on the driver; a list would become an RDD that each use
        # converts in Python workers
        local = self.spark.createDataFrame(table)
        indexed = bool(self._index_cols())
        if indexed:
            for name, values in self._index_values(local).items():
                # a 2-D array (PQ codes) becomes a list column
                table = table.append_column(
                    name, pa.array(list(values) if values.ndim > 1 else values)
                )
            local = self.spark.createDataFrame(table)
        self._merge(
            self._encode(local, indexed=indexed),
            self._buckets_for_ids(ids),
            len(ids),
            ids=ids,
        )

    def _add_frame(self, docs: DataFrame) -> None:
        """``add_documents`` of a DataFrame."""
        # ONE pre-encode pass computes validation AND the touched-bucket
        # set together (the bucket is closed-form on the id, same
        # expression as _encode/_buckets_for_ids). A null vector's size
        # is NULL (or -1), so coalescing the mismatch to true rejects it.
        # count vs count_distinct also detects batch-internal duplicate
        # ids, which must resolve to ONE row per id (a plain union would
        # store BOTH rows for the id).
        bad_flag = F.coalesce(
            F.size("vector") != self.options.dimension_count, F.lit(True)
        )
        try:
            stats = (
                docs.groupBy(
                    F.pmod(F.xxhash64(F.col("id").cast("long")),
                           F.lit(self.options.n_buckets)).alias("bucket")
                )
                .agg(
                    F.max(bad_flag).alias("bad"),
                    F.max(F.col("id").isNull()).alias("null_id"),
                    F.count("*").alias("n"),
                    F.count_distinct("id").alias("nd"),
                )
                .collect()
            )
        except Exception as e:
            if _is_stale_scan_error(e):
                # the CALLER's input DataFrame read files a concurrent
                # commit reclaimed (e.g. a plan derived from this
                # collection's own snapshot). A retry here cannot help —
                # the stale file list is pinned inside the caller's
                # plan — so surface the documented conflict type instead
                # of a raw FAILED_READ_FILE for the caller to rebuild on.
                raise ManifestConflictError(
                    "input relation scanned reclaimed data files; rebuild "
                    "the input DataFrame from a fresh snapshot and retry"
                ) from e
            raise
        if not stats:
            return
        if any(r["null_id"] for r in stats):
            raise ValueError("document id must not be null")
        if any(r["bad"] for r in stats):
            raise ValueError(
                f"vector dimension mismatch: expected {self.options.dimension_count}"
            )  # collection.go:432-434
        if any(r["n"] != r["nd"] for r in stats):
            # duplicate ids within the batch: a DataFrame has no order,
            # so the winner is the same arbitrary-but-deterministic
            # tie-break the streaming sink uses (metadata, then vector
            # hash)
            w = Window.partitionBy("id").orderBy(
                F.col("metadata").cast("string").desc_nulls_last(),
                F.xxhash64("vector").desc_nulls_last(),
            )
            docs = (
                docs.withColumn("_dup_rn", F.row_number().over(w))
                .where(F.col("_dup_rn") == 1)
                .drop("_dup_rn")
            )
        self._merge(
            self._encode(docs),
            sorted(r["bucket"] for r in stats),
            sum(r["n"] for r in stats),
        )

    def _merge(
        self,
        new_enc: DataFrame,
        touched: list[int],
        n_rows: int | None,
        *,
        ids: list[int] | None = None,
    ) -> None:
        """Bucket-pruned upsert: read ONLY the ``touched`` buckets, drop
        the rows the batch overwrites, and commit those buckets —
        everything else stays on disk untouched. Serialized against
        concurrent writers (``_mutate``). ``ids`` are a list batch's
        ids (``new_enc`` is then driver-encoded, so it needs no cache).
        Up to ``_ID_PREDICATE_MAX`` of them drop the overwritten rows by
        an id-set predicate, as in ``remove``; otherwise the batch's ids
        are anti-joined, broadcast when ``n_rows`` is known and small
        (``_batch_ids``)."""
        local = ids is not None
        if not local:
            new_enc = new_enc.cache()
        try:

            def step(man):
                cur = self._raw(buckets=touched, manifest=man)
                if local and len(ids) <= _ID_PREDICATE_MAX:
                    kept = cur.where(F.coalesce(~_id_in(ids), F.lit(True)))
                else:
                    kept = cur.join(
                        self._batch_ids(new_enc, n_rows), on="id", how="left_anti"
                    )
                merged = kept.unionByName(new_enc.select(kept.columns))
                self._commit_buckets(merged, touched, base_manifest=man)

            self._mutate("upsert", step)
        finally:
            if not local:
                new_enc.unpersist()

    def _batch_ids(self, new_enc: DataFrame, n_rows: int | None) -> DataFrame:
        """The batch's ids for the merge's anti-join, hinted broadcast
        when ``n_rows`` 8-byte ids fit the session's
        ``spark.sql.autoBroadcastJoinThreshold``. A cached batch has no
        size stats before its first action, so without the hint the
        planner shuffles the whole touched table (sort-merge); past the
        threshold (or with it disabled, -1) the planner chooses."""
        ids = new_enc.select("id")
        conf = self.spark._jsparkSession.sessionState().conf()
        limit = conf.autoBroadcastJoinThreshold()
        if n_rows is not None and 8 * n_rows <= limit:
            return F.broadcast(ids)
        return ids

    def update_metadata(self, doc_id: int, metadata: str) -> None:
        """Metadata-only update keeping the stored (quantized) vector
        (collection.go:490-509). The document's bucket is computed
        closed-form from the id — only that bucket's files are ever
        opened or rewritten."""
        [b] = self._buckets_for_ids([doc_id])
        new_meta = (
            F.from_json(F.lit(metadata), self.metadata_type)
            if self.metadata_type is not None
            else F.lit(metadata)
        )

        def step(man):
            cur = self._raw(buckets=[b], manifest=man)
            # ids are unique, so the probe collects at most one row: one
            # job with a task per bucket file and no LIMIT (a global
            # limit under count() plans an exchange: a second job)
            if not cur.where(f"id = {operator.index(doc_id)}L").select("id").collect():
                raise KeyError(f"document {doc_id} not found")
            updated = cur.withColumn(
                "metadata",
                F.when(F.col("id") == doc_id, new_meta).otherwise(F.col("metadata")),
            )
            if self.options.promoted and self.metadata_type is None:
                # promoted columns derive from metadata — recompute
                # for the rewritten bucket or the hint goes stale
                # (a stale value would wrongly exclude the updated
                # row from promoted-conjunct searches)
                from syzgydb_spark.query.promoted import promoted_col

                for path, spec in self.options.promoted.items():
                    updated = updated.withColumn(
                        spec["col"],
                        promoted_col("metadata", path, spec["type"]),
                    )
            self._commit_buckets(updated, [b], base_manifest=man, small_write=True)

        self._mutate("update", step)

    def remove(self, ids) -> None:
        """Delete by id, rewriting only the buckets that contain the ids
        (collection.go:511-521). Candidate buckets come closed-form from
        the ids — never a full-table scan."""
        if isinstance(ids, int):
            ids = [ids]
        ids = list(ids)
        if not ids:
            return
        candidates = self._buckets_for_ids(ids)

        def step(man):
            probe = [b for b in candidates if str(b) in man["buckets"]]
            if not probe:
                return
            cur = self._raw(buckets=probe, manifest=man)
            # at most one row per named id: dedup on the driver, so the
            # probe is one job with no shuffle
            touched = sorted({
                r["bucket"]
                for r in cur.where(_id_in(ids)).select("bucket").collect()
            })
            if not touched:
                return
            kept = cur.where(F.col("bucket").isin(touched)).where(
                # NULL-safe: ~IN is NULL (not true) for a NULL id,
                # which would silently delete null-id rows that were
                # never named
                F.coalesce(~_id_in(ids), F.lit(True))
            )
            self._commit_buckets(kept, touched, base_manifest=man, small_write=True)

        self._mutate("delete", step)

    # ---- reads ----
    def get(self, doc_id: int) -> Row | None:
        """Point lookup — opens only the id's bucket (closed-form)."""
        [b] = self._buckets_for_ids([doc_id])
        rows = self.df(buckets=[b]).where(f"id = {operator.index(doc_id)}L").collect()
        return rows[0] if rows else None

    def get_all_ids(self) -> list[int]:
        """Numerically sorted ids (reference GetAllIDs,
        collection.go:326-342; note the reference's *listing* path
        sorts ids lexicographically as strings, spanfile.go:540-560 — a
        quirk we deliberately do not reproduce)."""
        return [r["id"] for r in self._raw().select("id").orderBy("id").collect()]

    def count(self) -> int:
        return self._raw().count()

    def stats(self, samples: int = 100, seed: int = 42) -> dict:
        """CollectionStats incl. sampled average pairwise distance
        (collection.go:67-96, 348-400: ``samples`` random pairs)."""
        n = self.count()
        avg_dist = None
        if n >= 2:
            frac = min(1.0, (4 * samples) / n)
            s = self.df().select("id", "vector").sample(frac, seed=seed).limit(2 * samples)
            a = s.withColumnRenamed("vector", "va").withColumnRenamed("id", "ia")
            b = s.withColumnRenamed("vector", "vb").withColumnRenamed("id", "ib")
            pairs = (
                a.crossJoin(b)
                .where(F.col("ia") < F.col("ib"))
                .limit(samples)
                .select(dist_fn("va", "vb", self.options.distance_method).alias("d"))
            )
            row = pairs.agg(F.avg("d").alias("avg")).collect()[0]
            avg_dist = row["avg"]
        size = 0
        for root, _, files in os.walk(self._data_dir()):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {
            "document_count": n,
            "dimension_count": self.options.dimension_count,
            "quantization": self.options.quantization,
            "distance_method": self.options.distance_method,
            "storage_size": size,
            "average_distance": avg_dist,
        }

    # ---- text ingestion / search (reference embedding flow:
    #      rest.go:250-292 batches text→vector before AddDocument;
    #      rest.go:439-448 embeds the query text) ----
    def add_texts(self, rows, *, model_fn=None) -> None:
        """Upsert ``(id, text, metadata_json)`` rows, embedding the text
        batch-wise (one model call per Arrow batch — the reference's
        one piece of batched execution, rest.go:250-272)."""
        from syzgydb_spark.embedding import embed_text

        df = rows if isinstance(rows, DataFrame) else self.spark.createDataFrame(
            rows, "id BIGINT, text STRING, metadata STRING"
        )
        embedded = embed_text(
            self.spark, df, text_col="text",
            dim=self.options.dimension_count, model_fn=model_fn,
        ).select("id", F.col("embedding").alias("vector"), "metadata")
        self.add_documents(embedded)

    def enable_pq(
        self,
        *,
        m: int = 8,
        k: int = 256,
        seed: int = 42,
        max_sample: int = 100_000,
    ) -> None:
        """Fit a product-quantization codebook on the current data and
        reindex: every bucket is rewritten once with an ``pq_code``
        column (M bytes/row), codebooks persist in options.json, and
        subsequent writes encode incrementally in ``_encode`` — open()
        never refits (the reference rebuilds its whole ANN index on
        every open, collection.go:297-311; here the index is columns).

        One-time full rewrite by design — the same cost profile as
        building any secondary index. ``search(precision='pq')`` then
        scans codes instead of float vectors."""
        from syzgydb_spark.operators.pq import PqIndex

        if self.options.dimension_count % m != 0:
            raise ValueError(
                f"dimension_count {self.options.dimension_count} not divisible by m={m}"
            )
        idx = PqIndex.fit(
            self.df(),
            "vector",
            m=m,
            k=k,
            method=self.options.distance_method,
            max_sample=max_sample,
            seed=seed,
        )
        self._reindex("reindex", {"pq": idx.to_dict()}, {"pq_index": idx})

    def enable_ivf(
        self,
        *,
        n_clusters: int = 64,
        seed: int = 42,
        max_sample: int = 100_000,
    ) -> None:
        """Fit the IVF coarse quantizer (MLlib KMeans on a bounded
        sample) on the current data and reindex: every bucket is
        rewritten once with an ``ivf_cell`` INT column, centers persist
        in options.json, and subsequent writes assign cells
        incrementally in ``_encode`` — open() never refits. At cluster
        scale the low-cardinality cell column is exactly what parquet
        row-group statistics prune on, so ``search(precision='ivf')``
        probing n cells reads ~n/n_clusters of the data.

        Third index tier next to LSH (create-time option) and PQ
        (enable_pq); all three are columns, never a driver-side
        structure — the reference instead rebuilds its in-memory LSH
        forest on every open (collection.go:297-311)."""
        from syzgydb_spark.operators.ivf import IvfIndex

        idx = IvfIndex.fit(
            self.df().select("id", "vector"),
            "vector",
            n_clusters=n_clusters,
            method=self.options.distance_method,
            max_sample=max_sample,
            seed=seed,
        )
        self._reindex("reindex", {"ivf": idx.to_dict()}, {"ivf_index": idx})

    def promote_paths(self, paths: dict[str, str]) -> None:
        """Materialize hot metadata paths as plain typed columns on a
        SCHEMALESS collection: ``promote_paths({"user.age": "double",
        "status": "string"})``. Every bucket is rewritten once with the
        promoted columns (computed exactly as the filter language reads
        the path — query/promoted.promoted_col), and subsequent writes
        maintain them in ``_encode``. ``search(filter=...)`` then ANDs
        a conservative pushable shadow of the predicate over these
        columns next to the exact variant evaluation: hot conjuncts
        reach whole-stage codegen and the parquet scan (row-group
        pruning) while the long tail of cold paths stays schemaless —
        the per-path version of declaring ``metadata_schema``.

        Types: 'double' | 'string' | 'boolean'. Promoting on a typed
        collection is an error (it already has the full fast path).
        Same CAS-retry/rollback reindex protocol as enable_pq/ivf."""
        from syzgydb_spark.query.promoted import PROMOTABLE_TYPES, parse_path

        if self.metadata_type is not None:
            raise ValueError(
                "promote_paths is for schemaless collections; this one has "
                "a declared metadata_schema (already typed + pushable)"
            )
        for p, t in paths.items():
            parse_path(p)
            if t not in PROMOTABLE_TYPES:
                raise ValueError(
                    f"unpromotable type {t!r} for {p!r}; expected one of "
                    f"{PROMOTABLE_TYPES}"
                )
        with self._lock:
            merged = dict(self.options.promoted or {})
            taken = {s["col"] for s in merged.values()}
            for p, t in paths.items():
                if p in merged and merged[p]["type"] != t:
                    raise ValueError(
                        f"path {p!r} already promoted as {merged[p]['type']}"
                    )
                if p not in merged:
                    i = 0
                    while f"_pv{i}" in taken:
                        i += 1
                    merged[p] = {"col": f"_pv{i}", "type": t}
                    taken.add(f"_pv{i}")
            self._reindex("promote", {"promoted": merged}, {})

    def calibrate_recall(
        self,
        *,
        k: int = 10,
        n_queries: int = 50,
        max_sample: int = 100_000,
        probe_grid: dict | None = None,
        seed: int = 42,
    ) -> dict:
        """Measure the recall@k-vs-cost curve of every configured ANN
        tier on a bounded sample of THIS collection's data and persist
        it in options.json — the RECALL.md sweep as a library call, so
        ``search(target_recall=...)`` can pick probe settings from
        measurement instead of hand-tuning.

        Method: up to ``max_sample`` data rows (deterministic hash
        sample) and ``n_queries`` of them as queries; exact top-k is
        the truth; each tier's ``knn_join`` runs per grid point with a
        ``candidate_pairs`` Observation, giving (recall, candidate
        fraction) per n_probes. Driver-bounded like IvfIndex.fit — the
        curves are properties of the data distribution, which the
        sample represents."""
        from pyspark.sql import Observation

        from syzgydb_spark.operators.knn import knn_join_fast

        grid = probe_grid or {
            "lsh": [0, 1, 2, 4, 8],
            "ivf": [1, 2, 4, 8, 16],
            "ivfpq": [1, 2, 4, 8, 16],
        }
        base = self.df()
        total = base.count()
        if total == 0:
            raise ValueError("cannot calibrate an empty collection")
        if total > max_sample:
            base = base.where(
                F.pmod(F.xxhash64("id"), F.lit(total // max_sample + 1)) == 0
            )
        data = base.persist()
        n_data = data.count()
        queries = (
            data.orderBy(F.pmod(F.xxhash64(F.col("id") + seed), F.lit(997)), "id")
            .limit(n_queries)
            .select(F.col("id").alias("query_id"), F.col("vector").alias("query_vector"))
            .persist()
        )
        n_q = queries.count()
        try:
            exact = knn_join_fast(
                data, queries, k, method=self.options.distance_method
            )
            truth: dict = {}
            for r in exact.select("query_id", "id").collect():
                truth.setdefault(r["query_id"], set()).add(r["id"])

            def recall_of(res) -> float:
                got: dict = {}
                for r in res.select("query_id", "id").collect():
                    got.setdefault(r["query_id"], set()).add(r["id"])
                hit = sum(len(truth[q] & got.get(q, set())) for q in truth)
                return hit / max(1, len(truth) * k)

            curves: dict = {}
            tiers = []
            if self.index is not None:
                tiers.append(("lsh", self.index))
            if self.ivf_index is not None:
                tiers.append(("ivf", self.ivf_index))
            if self.pq_index is not None and self.ivf_index is not None:
                # the IVFADC composition is its own tier: same probe
                # knob as plain IVF but candidates are scored through
                # the M-byte codes + exact re-rank of a 4k short-list
                # (mirroring search(precision='ivfpq')), so its recall
                # per candidate differs from IVF-with-floats and needs
                # its own measured curve
                tiers.append(("ivfpq", None))
            if not tiers:
                raise ValueError(
                    "no ANN tier configured (lsh at create time, or "
                    "enable_ivf()) — exact search needs no calibration"
                )
            for name, idx in tiers:
                pts = []
                for p in grid.get(name, []):
                    obs = Observation(f"cal_{name}_{p}")
                    if name == "ivfpq":
                        # rerank mirrors search(precision='ivfpq')
                        # exactly — a curve measured with a different
                        # shortlist would mispredict the serving path
                        res = self.pq_index.ivf_adc_knn_join(
                            data,
                            queries,
                            k,
                            ivf=self.ivf_index,
                            n_probes=p,
                            rerank=max(4 * k, 50),
                            observation=obs,
                        )
                    else:
                        res = idx.knn_join(
                            data, queries, k, observation=obs, n_probes=p
                        )
                    rec = recall_of(res)
                    pairs = obs.get["candidate_pairs"]
                    pts.append(
                        {
                            "n_probes": int(p),
                            "recall": round(rec, 4),
                            "cand_frac": round(pairs / max(1, n_data * n_q), 5),
                        }
                    )
                curves[name] = pts
        finally:
            data.unpersist()
            queries.unpersist()
        # under the mutation lock: an in-process reindex must not save
        # (or roll back) its index options in the middle of this write
        with self._lock:
            self.options.recall_curve = curves
            self._save_options()
        return curves

    def _probes_for_target(self, precision: str, target_recall: float):
        """(n_probes, curve point) meeting the target at the lowest
        measured candidate fraction, or None → caller falls back to
        exact (recall 1.0 by definition)."""
        key = {"medium": "lsh", "ivf": "ivf", "ivfpq": "ivfpq"}.get(precision)
        curve = (self.options.recall_curve or {}).get(key or "")
        if curve is None:
            raise ValueError(
                "search(target_recall=...) needs a calibrated curve for "
                f"tier {precision!r}: run calibrate_recall() first"
            )
        ok = [p for p in curve if p["recall"] >= target_recall]
        if not ok:
            return None
        return min(ok, key=lambda p: p["cand_frac"])

    def _promoted_hint(self, filter: str) -> str | None:
        """Pushable shadow of a filter string over the promoted
        columns (SQL text), or None when nothing in the filter is
        promoted."""
        if not (self.options.promoted and self.metadata_type is None):
            return None
        from syzgydb_spark.query.parser import parse
        from syzgydb_spark.query.promoted import promoted_hint

        mapping = {
            p: (s["col"], s["type"]) for p, s in self.options.promoted.items()
        }
        return promoted_hint(parse(filter), mapping)

    def search_text(self, text: str, *, model_fn=None, **kwargs) -> DataFrame:
        """Search by query text: embed (driver-side, single string —
        the same stub/model used for ingestion) then vector-search."""
        from syzgydb_spark.embedding import stub_model

        fn = model_fn or stub_model
        vec = [float(x) for x in fn([text], self.options.dimension_count)[0]]
        return self.search(vec, **kwargs)

    # ---- search (collection.go:569-711) ----
    def search(
        self,
        vector=None,
        *,
        k: int = 0,
        radius: float = 0.0,
        filter: str | None = None,
        precision: str = "medium",
        offset: int = 0,
        limit: int = 0,
        observation=None,
        n_probes: int = 0,
        id_order: str = "numeric",
        target_recall: float | None = None,
    ) -> DataFrame:
        """Returns (id, metadata, distance) like SearchResult
        (collection.go:115-135). ``precision='exact'`` forces the full
        scan; 'medium' uses the LSH index when configured. On the ANN
        path an ``Observation`` reports points_total/points_searched
        (the reference's percent_searched) with the query's own pass —
        no second job. ``id_order='lexicographic'`` reproduces the
        reference's string-sorted LISTING order ("10" < "2",
        spanfile.go:540-560); the numeric default matches its
        GetAllIDs order.

        ``target_recall`` picks ``n_probes`` from the calibrated
        recall curve (``calibrate_recall()``): the cheapest measured
        config whose recall@k meets the target; if no measured config
        reaches it, the search runs exact (recall 1.0). The chosen
        config and its measured candidate fraction are logged."""
        if precision not in _PRECISIONS:
            # a typo ('ifv') would otherwise silently fall through to a
            # FULL exact scan — at scale that is a very expensive typo
            raise ValueError(
                f"unknown precision {precision!r}; expected one of {_PRECISIONS}"
            )
        if vector is not None and len(vector) != self.options.dimension_count:
            # stored vectors are validated at add time; the QUERY vector
            # must be too — zip_with over mismatched lengths yields null
            # distances, i.e. silently wrong results, not an error
            raise ValueError(
                f"query vector dimension mismatch: got {len(vector)}, "
                f"expected {self.options.dimension_count}"
            )
        if target_recall is not None:
            tier_idx = {
                "medium": self.index,
                "ivf": self.ivf_index,
                "ivfpq": (
                    self.pq_index if self.ivf_index is not None else None
                ),
            }.get(precision)
            if tier_idx is None:
                raise ValueError(
                    "target_recall applies to the calibrated ANN tiers "
                    "('medium' with an LSH index, 'ivf' with enable_ivf(), "
                    "'ivfpq' with enable_pq()+enable_ivf())"
                )
            choice = self._probes_for_target(precision, target_recall)
            if choice is None:
                logger.info(
                    "target_recall=%.2f: no calibrated %s config reaches it; "
                    "running exact (recall 1.0)", target_recall, precision,
                )
                precision = "exact"
            else:
                n_probes = choice["n_probes"]
                logger.info(
                    "target_recall=%.2f: %s n_probes=%d (calibrated recall "
                    "%.3f, candidate fraction %.4f)",
                    target_recall, precision, n_probes,
                    choice["recall"], choice["cand_frac"],
                )
        df = self.df()
        if filter:
            # promoted hot-path shadow: pre-filter ONCE at the scan so
            # every tier (including the string-filter exact path, which
            # bypasses _filter_sql) gets codegen + pushdown on the
            # promoted conjuncts; the exact variant predicate still
            # runs downstream (the hint is conservative)
            hint = self._promoted_hint(filter)
            if hint is not None:
                df = df.where(hint)
        if precision in ("pq", "ivfpq", "ivf") and vector is not None and k > 0:
            if precision == "pq" and self.pq_index is None:
                raise ValueError("precision='pq' requires enable_pq() first")
            if precision == "ivfpq" and (self.pq_index is None or self.ivf_index is None):
                raise ValueError(
                    "precision='ivfpq' requires enable_pq() and enable_ivf()"
                )
            if precision == "ivf" and self.ivf_index is None:
                raise ValueError("precision='ivf' requires enable_ivf() first")
            # reference pre-filter semantics: the filter runs before
            # ranking (collection.go:592)
            if filter:
                df = df.where(self._filter_sql(filter))
            if precision == "ivf":
                res = self.ivf_index.search(
                    df, vector, k,
                    n_probes=n_probes or 4,
                    vec_col="vector", id_col="id",
                    observation=observation,
                )
            else:
                base = df
                if precision == "ivfpq":
                    # FAISS-IVFADC shape on a single query: the coarse-
                    # quantizer probe prunes to n_probes cells (the
                    # ivf_cell column is what parquet row-group stats
                    # prune on at scale), then the ADC lookup-table
                    # scan + exact re-rank runs over only the probed
                    # candidates — compressed AND cell-pruned.
                    pred = self.ivf_index.cell_sql(vector, n_probes or 4)
                    if observation is not None:
                        # an Observation may appear in a plan only once:
                        # attach it on the candidate path; the metadata
                        # join reads the plain relation
                        df = knn.observe_searched(df, observation, pred)
                    df = df.where(pred)
                elif observation is not None:
                    # ADC scans every (filtered) row's code
                    df = _observe_full_scan(df, observation)
                res = self.pq_index.search(
                    df, vector, k, rerank=max(4 * k, 50), vec_col="vector", id_col="id"
                ).join(base.select("id", "metadata"), "id")
            if radius > 0:
                res = res.where(F.col("distance") <= radius)
            return res.select("id", "metadata", "distance").orderBy("distance", "id")
        use_ann = (
            precision != "exact" and self.index is not None and vector is not None and k > 0
        )
        if use_ann:
            pred = self._filter_sql(filter) if filter else None
            res = self.index.search(
                df, vector, k, radius=radius, filter=pred,
                observation=observation, n_probes=n_probes,
            )
        else:
            if observation is not None:
                # exact scan (explicit, or the documented fallback when
                # no LSH index is configured); attached here because
                # knn.search has no observation hook
                df = _observe_full_scan(df, observation)
            if filter and self.metadata_type is not None:
                # typed collections apply the compiled codegen
                # predicate; untyped pass the string so knn.search
                # applies the variant path's sub-variant hoisting
                # (where_filter)
                df, filter = df.where(self._filter_sql(filter)), None
            res = knn.search(
                df,
                vector,
                k=k,
                radius=radius,
                filter=filter,
                method=self.options.distance_method,
                offset=offset,
                limit=limit,
                id_order=id_order,
            )
        # knn.search ranks (adds `distance`) unless it lists
        ranked = use_ann or (vector is not None and (k > 0 or radius > 0.0))
        return res.selectExpr("id", "metadata", *(["distance"] if ranked else []))

    def search_many(
        self,
        queries,
        *,
        k: int = 10,
        precision: str = "medium",
        filter: str | None = None,
        n_probes: int = 0,
        include_metadata: bool = False,
        observation=None,
    ) -> DataFrame:
        """Batch KNN over the collection — the Spark-idiomatic shape
        the reference cannot express (it serves one query per call;
        a training pipeline asks for thousands at once). ``queries``
        is a DataFrame with (query_id, query_vector) columns or a list
        of ``(query_id, vector)`` pairs. Returns (query_id, id,
        distance[, metadata]) with per-query ascending distance order.

        Dispatch mirrors ``search()``: 'exact' → Arrow local-top-k
        join (distances never shuffle; each data partition emits at
        most Q·k rows); 'medium' → the LSH banded candidate join when
        configured (exact otherwise); 'ivf' → per-query probe join;
        'pq' → ADC lookup-table join; 'ivfpq' → the batch IVFADC
        composition (probe cells per query, ADC over candidates,
        exact re-rank). The filter pre-filters the data side before
        any candidate generation, the same pre-filter semantics as
        single-query search (collection.go:592).

        ``observation`` reports ``candidate_pairs`` on the LSH / IVF /
        IVF-PQ paths; 'exact' and 'pq' scan every (filtered) row, so
        the observation carries points_total == points_searched — the
        honest 100%, same as single-query search."""
        if k <= 0:
            raise ValueError(
                "search_many needs k > 0 (per-query top-k); for a full "
                "listing use search() with k=0"
            )
        if precision not in _PRECISIONS:
            raise ValueError(
                f"unknown precision {precision!r}; expected one of {_PRECISIONS}"
            )
        if isinstance(queries, (list, tuple)):
            dim = self.options.dimension_count
            for q, v in queries:
                if len(v) != dim:
                    raise ValueError(
                        f"query {q}: vector dimension mismatch: got "
                        f"{len(v)}, expected {dim}"
                    )
            queries = self.spark.createDataFrame(
                [(int(q), [float(x) for x in v]) for q, v in queries],
                "query_id LONG, query_vector ARRAY<DOUBLE>",
            )
        base = self.df()
        df = base.where(self._filter_sql(filter)) if filter else base
        # tiers that scan every (filtered) row — including 'medium'
        # falling back to exact when no LSH index is configured; a
        # caller-created Observation must always end up attached to SOME
        # plan or its .get blocks forever
        full_scan = precision in ("pq", "exact") or (
            precision == "medium" and self.index is None
        )
        if full_scan and observation is not None:
            df = _observe_full_scan(df, observation)
        if precision == "ivfpq":
            if self.pq_index is None or self.ivf_index is None:
                raise ValueError(
                    "precision='ivfpq' requires enable_pq() and enable_ivf()"
                )
            res = self.pq_index.ivf_adc_knn_join(
                df, queries, k,
                ivf=self.ivf_index,
                n_probes=n_probes or 4,
                rerank=max(4 * k, 50),
                observation=observation,
            )
        elif precision == "pq":
            if self.pq_index is None:
                raise ValueError("precision='pq' requires enable_pq() first")
            res = self.pq_index.adc_knn_join(
                df, queries, k, rerank=max(4 * k, 50)
            )
        elif precision == "ivf":
            if self.ivf_index is None:
                raise ValueError("precision='ivf' requires enable_ivf() first")
            res = self.ivf_index.knn_join(
                df, queries, k,
                n_probes=n_probes or 4,
                observation=observation,
            )
        elif precision != "exact" and self.index is not None:
            res = self.index.knn_join(
                df, queries, k, observation=observation, n_probes=n_probes
            )
        else:
            res = knn.knn_join_fast(
                df, queries, k, method=self.options.distance_method
            )
        if include_metadata:
            # join against the SAME snapshot the candidates were
            # generated from — a second df() call could pin a newer
            # manifest mid-mutation and silently drop result rows
            res = res.join(base.select("id", "metadata"), "id")
        cols = ["query_id", "id", "distance"] + (
            ["metadata"] if include_metadata else []
        )
        return res.select(*cols).orderBy("query_id", "distance", "id")

    def _filter_pred(self, filter: str) -> Column:
        """:meth:`_filter_sql` as a Column."""
        return F.expr(self._filter_sql(filter))

    def _filter_sql(self, filter: str) -> str:
        """Row-keeping SQL predicate for a filter-language string. On a
        schema'd collection (CollectionOptions.metadata_schema) this is
        the typed fast path: a plain codegen boolean over the struct/map
        column, with the conservative pushdown hint ANDed alongside so
        pushable conjuncts reach the parquet scan. Otherwise the
        reference-faithful variant path."""
        from syzgydb_spark.query.parser import parse

        if self.metadata_type is not None:
            from syzgydb_spark.query.typed import pushdown_hint, typed_filter_sql

            pred = typed_filter_sql(filter, "metadata", self.metadata_type)
            hint = (
                pushdown_hint(parse(filter), "metadata", self.metadata_type)
                if isinstance(self.metadata_type, T.StructType)
                else None
            )
        else:
            pred = filter_sql(filter, "metadata")
            hint = self._promoted_hint(filter)
        return f"({hint} AND {pred})" if hint is not None else pred

    def percent_searched(self, vector) -> float:
        """candidates examined / total × 100 (collection.go:700-709)."""
        if self.index is None:
            return 100.0
        total = self.count()
        if total == 0:
            return 100.0
        cand = self._raw().where(self.index.candidate_sql(vector)).count()
        return 100.0 * cand / total
