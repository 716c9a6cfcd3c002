"""The two workloads. Each drives the library's public API from one client
thread in a closed loop: the next request goes out when the previous one
has returned and been checked. A run times one fixed unit of work (one
collection cycle, one crawl wave), so every run does the same work and
only the parameters depend on the seed.

* ``collection`` - one vector collection serving single-query k-NN
  searches (LSH and exact, with metadata filters), point gets, upserts,
  metadata updates, deletes and compaction.
* ``crawl`` - ``examples.crawl_wave.run_wave`` over seeded WET waves.
"""

from __future__ import annotations

import json
import os
import time
from collections import deque

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen


class Recorder:
    """Per-op latencies and failures, plus client-side CPU spent on checks
    (subtracted from the process-tree CPU, which should price the engine,
    not the benchmark's NumPy ground truth)."""

    def __init__(self):
        self.lat = {}  # kind -> [seconds]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.client_cpu_s = 0.0

    def record(self, kind: str, seconds: float | None, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{kind}: {error}")
        elif seconds is not None:
            self.lat.setdefault(kind, []).append(seconds)

    def all_latencies(self) -> list[float]:
        return [s for v in self.lat.values() for s in v]


class _ClientCpu:
    """Context manager adding the block's thread CPU to ``rec.client_cpu_s``."""

    def __init__(self, rec: Recorder):
        self.rec = rec

    def __enter__(self):
        self.t = time.thread_time()

    def __exit__(self, *exc):
        self.rec.client_cpu_s += time.thread_time() - self.t


def latency_stats(name: str, seconds: list[float]) -> dict:
    """``<name>_p50_ms`` and ``<name>_n``, plus ``<name>_p90_ms`` when there
    are at least ``checks.P90_MIN_SAMPLES`` samples."""
    if not seconds:
        return {}
    ms = [s * 1000 for s in seconds]
    out = {f"{name}_p50_ms": checks.percentile(ms, 50), f"{name}_n": len(ms)}
    if len(ms) >= checks.P90_MIN_SAMPLES:
        out[f"{name}_p90_ms"] = checks.percentile(ms, 90)
    return out


# ------------------------------------------------------------- collection


class CollectionWorkload:
    """A collection of ``N_DOCS`` clustered 64-d vectors (cosine, 64-bit
    quantization, default LSH, 16 buckets) driven through ``CYCLE``: the
    op kinds come in one fixed order. A run times one cycle; the reads
    after the first write see the files the writes add to each bucket,
    and the compaction at the end folds them.

    Set-up builds the collection (which runs the write and LSH-signature
    paths once) and then runs ``WARMUP``, checked but untimed, so the
    timed reads do not pay a fresh process's first-call cost."""

    N_DOCS = 10_000
    K = 10
    UPSERT_DOCS = 100
    CYCLE = ("ann", "upsert", "get", "exact", "update", "remove", "compact")
    WRITES = ("upsert", "update", "remove", "compact")
    # one first call per read path; "exact" shares the search path that
    # "ann" warms (its first call is no slower than a warm one)
    WARMUP = ("ann", "get")

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.vg = gen.VectorGen(self.rng)
        self.path = os.path.join(work, "collection")
        self.rec = Recorder()
        self.recalls: list[float] = []
        self.recent = deque(maxlen=10)  # ids of the last ten write ops
        self.written_bytes = 0
        self.written_files = 0
        self.submitted_bytes = 0

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        from syzgydb_spark import Collection, CollectionOptions

        n = self.N_DOCS
        x = self.vg.vectors(n)
        metas = self.vg.metadata(n)
        src = os.path.join(self.work, "input.parquet")
        pq.write_table(pa.table({
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "vector": pa.array(list(x), type=pa.list_(pa.float64())),
            "metadata": pa.array([json.dumps(m) for m in metas]),
        }), src)
        self.coll = Collection.create(self.spark, self.path, CollectionOptions(
            name="bench", dimension_count=gen.DIM, distance_method="cosine",
            quantization=64, n_buckets=16, lsh={},
        ))
        self.coll.add_documents(self.spark.read.parquet(src))
        # one cycle adds UPSERT_DOCS // 2 new ids
        self.shadow = gen.Shadow(range(n), x, metas, capacity=n + self.UPSERT_DOCS)
        self.next_id = n
        for kind in self.WARMUP:
            self._run(kind, timed=False)

    # -- the loop ----------------------------------------------------------

    def run(self) -> float:
        """One timed cycle; returns its wall time."""
        t0 = time.perf_counter()
        for kind in self.CYCLE:
            self._run(kind)
        return time.perf_counter() - t0

    def finish(self) -> None:
        got = self.coll.count()
        self.rec.record("count", None, checks.check_count(got, self.shadow.count()))

    def _run(self, kind: str, timed: bool = True) -> None:
        write = kind in self.WRITES
        before = checks.snapshot(self.path) if write else None
        with self.tracer.op(kind):
            t0 = time.perf_counter()
            try:
                result, submitted = getattr(self, "_" + kind)()
                err = None
            except Exception as e:  # a raised op is a failed op
                result, submitted, err = None, 0, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
        with _ClientCpu(self.rec):
            if err is None and result is not None:
                err = result()  # deferred check, untimed
            if write and err is None:
                files, nbytes = checks.created(before, checks.snapshot(self.path))
                self.written_files += files
                self.written_bytes += nbytes
                self.submitted_bytes += submitted
        self.rec.record(kind, dt if timed else None, err)

    # -- op bodies: do the call, return (check thunk, logical bytes) -------

    def _live_id(self) -> int:
        live = self.shadow.live_ids()
        return int(live[self.rng.integers(0, len(live))])

    def _query(self):
        return self.vg.query_near(self.shadow.get(self._live_id())[0])

    def _search(self, precision: str):
        q = self._query()
        flt = gen.random_filter(self.rng)
        df = self.coll.search(q.tolist(), k=self.K, precision=precision, filter=flt.text)
        with self.tracer.span("collection.exec"):
            rows = df.collect()
        return q, flt, [(r["id"], r["distance"], r["metadata"]) for r in rows]

    def _meta_of(self, doc_id):
        return self.shadow.get(doc_id)[1]

    def _ann(self):
        q, flt, got = self._search("medium")

        def check():
            truth = self.shadow.topk(q, self.K, flt)
            self.recalls.append(checks.recall([g[0] for g in got], [t[0] for t in truth]))
            return checks.check_ann(
                got, self.K, lambda i: self.shadow.distance(i, q),
                lambda i: self.shadow.get(i) is not None and flt.matches(self._meta_of(i)),
                self._meta_of,
            )
        return check, 0

    def _exact(self):
        q, flt, got = self._search("exact")
        return (lambda: checks.check_topk(got, self.shadow.topk(q, self.K, flt),
                                          self._meta_of)), 0

    def _get(self):
        """Read-your-writes: a point get of an id from the last ten writes
        (any live id before the first write)."""
        ids = [i for batch in self.recent for i in batch]
        doc_id = ids[int(self.rng.integers(0, len(ids)))] if ids else self._live_id()
        row = self.coll.get(doc_id)
        got = None if row is None else (row["vector"], row["metadata"])
        return (lambda: checks.check_get(got, self.shadow.get(doc_id))), 0

    def _upsert(self):
        half = self.UPSERT_DOCS // 2
        live = self.shadow.live_ids()
        ids = [int(i) for i in self.rng.choice(live, half, replace=False)]
        ids += list(range(self.next_id, self.next_id + half))
        self.next_id += half
        vecs = self.vg.vectors(len(ids))
        metas = self.vg.metadata(len(ids))
        self.coll.add_documents(
            [(i, v.tolist(), json.dumps(m)) for i, v, m in zip(ids, vecs, metas)])
        for i, v, m in zip(ids, vecs, metas):
            self.shadow.put(i, v, m)
        self.recent.append(ids)
        return None, sum(gen.doc_bytes(gen.DIM, m) for m in metas)

    def _update(self):
        doc_id = self._live_id()
        meta = self.vg.metadata(1)[0]
        self.coll.update_metadata(doc_id, json.dumps(meta))
        self.shadow.set_meta(doc_id, meta)
        self.recent.append([doc_id])
        return None, 8 + len(json.dumps(meta).encode())

    def _remove(self):
        doc_id = self._live_id()
        self.coll.remove([doc_id])
        self.shadow.remove(doc_id)
        self.recent.append([doc_id])
        return None, 8

    def _compact(self):
        out = self.coll.compact()
        return (lambda: None if out["files_after"] <= out["files_before"]
                else f"compaction grew files: {out}"), 0

    # -- metrics -------------------------------------------------------------

    def items(self) -> int:
        return sum(len(v) for v in self.rec.lat.values())

    def amplification(self) -> tuple[float, float]:
        return checks.amplification(
            self.written_bytes, self.submitted_bytes,
            checks.total_bytes(checks.snapshot(self.path)), self.shadow.logical_bytes(),
        )

    def files_live(self) -> int:
        return len(checks.snapshot(os.path.join(self.path, "data")))

    def trace_detail(self) -> dict:
        """Traced run only, after the timed loop: LSH work ratios measured by
        extra calls outside any op, and the storage layout."""
        from pyspark.sql import Observation

        qs = [self._query() for _ in range(3)]
        pct = float(np.mean([self.coll.percent_searched(q.tolist()) for q in qs]))
        obs = Observation("lsh")
        self.coll.search_many(
            [(i, q.tolist()) for i, q in enumerate(qs)], k=self.K, observation=obs,
        ).collect()
        pairs = float(obs.get.get("candidate_pairs", 0))
        with open(os.path.join(self.path, "manifest.json")) as f:
            buckets = json.load(f)["buckets"]
        return {
            "lsh.percent_searched": pct,
            "lsh.candidate_pairs": pairs / len(qs),
            "lsh.candidates_per_result": pairs / (len(qs) * self.K),
            "storage.max_files_per_bucket": max(len(v) for v in buckets.values()),
            "storage.conflict_retries": self.tracer.counts["storage.conflict_retries"],
        }

    def detail(self) -> dict:
        lat = self.rec.lat
        groups = {
            "ann_search": lat.get("ann", []),
            "exact_search": lat.get("exact", []),
            "get": lat.get("get", []),
            "upsert": lat.get("upsert", []),
            "point_write": lat.get("update", []) + lat.get("remove", []),
            "compact": lat.get("compact", []),
        }
        out = {}
        for name, samples in groups.items():
            out.update(latency_stats(name, samples))
        if self.recalls:
            out["ann_recall_at_10"] = float(np.mean(self.recalls))
        return out


# ------------------------------------------------------------------ crawl


class CrawlWorkload:
    """``run_wave`` over WET waves of ``DOCS_PER_WAVE`` documents. Set-up
    runs the bootstrap wave, which builds the corpus and every store; a run
    times one incremental wave with ``compact=True``, which probes the
    Bloom store, dedups against the fingerprint and line stores, folds the
    wave into every store and then compacts them all."""

    DOCS_PER_WAVE = 500
    FP_TABLE = "e2e_fp"
    LINE_TABLE = "e2e_ln"

    def __init__(self, spark, work: str, seed: int, tracer):
        from examples.crawl_wave import _store_paths

        self.spark = spark
        self.work = os.path.join(work, "crawl")
        self.tracer = tracer
        self.cg = gen.CrawlGen(np.random.default_rng(seed), self.DOCS_PER_WAVE)
        self.paths = _store_paths(self.work)
        self.rec = Recorder()
        self.truths: list[gen.WaveTruth] = []  # every wave, bootstrap first
        self.out: dict = {}  # run_wave's answer for the timed wave
        self.written_bytes = self.submitted_bytes = 0
        self.written_files = 0

    def state_dirs(self) -> list[str]:
        p = self.paths
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return [p["ingest"], p["corpus"], os.path.dirname(p["bloom"]), wh]

    def setup(self) -> None:
        os.makedirs(self.paths["segments"], exist_ok=True)
        self._wave(timed=False)

    def run(self) -> float:
        """One timed incremental, compacting wave; returns its wall time."""
        return self._wave(timed=True)

    def _wave(self, timed: bool) -> float:
        from examples.crawl_wave import run_wave

        with _ClientCpu(self.rec):
            docs, truth = self.cg.next_wave()
            gen.write_wet(os.path.join(self.paths["segments"],
                                       f"wave{self.cg.wave:04d}.warc"), docs)
            before = checks.snapshot(*self.state_dirs())
        with self.tracer.op("wave"):
            t0 = time.perf_counter()
            try:
                out = run_wave(self.spark, self.work,
                               fingerprint_table=self.FP_TABLE,
                               line_table=self.LINE_TABLE, compact=timed)
                err = None
            except Exception as e:
                out, err = {}, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
        with _ClientCpu(self.rec):
            err = err or checks.check_wave(out, truth, incremental=timed)
            files, nbytes = checks.created(before, checks.snapshot(*self.state_dirs()))
        self.truths.append(truth)
        if timed:
            self.out = out
            self.written_files += files
            self.written_bytes += nbytes
            self.submitted_bytes += truth.text_bytes
        self.rec.record("wave", dt if timed else None, err)
        return dt

    def finish(self) -> None:
        got = self.spark.read.parquet(self.paths["corpus"]).count()
        self.rec.record("count", None,
                        checks.check_count(got, sum(t.accepted for t in self.truths)))

    def items(self) -> int:
        return self.truths[-1].docs

    def amplification(self) -> tuple[float, float]:
        live = sum(t.accepted_bytes for t in self.truths)
        return checks.amplification(
            self.written_bytes, self.submitted_bytes,
            checks.total_bytes(checks.snapshot(*self.state_dirs())), live,
        )

    def files_live(self) -> int:
        return len(checks.snapshot(*self.state_dirs()))

    def trace_detail(self) -> dict:
        return {"warc.records": float(self.out.get("n_records", 0))}

    def detail(self) -> dict:
        waves = self.rec.lat.get("wave", [])
        qp = self.out.get("quality_pass", 0)
        return {
            "docs_per_s": self.items() / waves[0] if waves else 0.0,
            "dedup.drop_ratio": (qp - self.out.get("accepted", 0)) / qp if qp else 0.0,
            "bloom.skip_ratio": self.out.get("bloom_skipped", 0) / qp if qp else 0.0,
            "stores.files_live": self.files_live(),
            "compacted": self.out.get("compacted"),
        }


WORKLOADS = {"collection": CollectionWorkload, "crawl": CrawlWorkload}
