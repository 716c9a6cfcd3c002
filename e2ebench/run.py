"""End-to-end benchmark of syzgydb_spark.

    python3 e2ebench/run.py --workload collection --seed 1 --trace 0

Runs one workload in this process on ``local[<cores>]`` from the root of
a source checkout, times one fixed unit of work (a collection cycle, an
incremental crawl wave; ``--seconds`` is accepted and ignored, so every
run does the same work), checks every answer, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps each library layer and reports per-layer
metrics instead. The line before it, ``{"detail": ...}``, carries
per-op-kind figures and, when traced, every per-module metric. Exits 1
when an answer was wrong and 2 when the library is not importable.

All files go under ``.e2ebench/`` in the checkout; the work directory is
deleted at the end, traced runs leave their spans in
``.e2ebench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import probes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (module, attribute, span name[, counter bumped when the call raises])
# wrapped by the traced run
TRACE_TARGETS = [
    ("syzgydb_spark.query.compiler", "compile_filter", "query.compile"),
    ("syzgydb_spark.query.compiler", "where_filter", "query.compile"),
    ("syzgydb_spark.collection", "Collection.search", "collection.plan"),
    ("syzgydb_spark.collection", "Collection.get", "collection.get"),
    ("syzgydb_spark.collection", "Collection.add_documents", "collection.upsert"),
    ("syzgydb_spark.collection", "Collection.update_metadata", "collection.update"),
    ("syzgydb_spark.collection", "Collection.remove", "collection.remove"),
    ("syzgydb_spark.collection", "Collection.compact", "storage.compact"),
    ("syzgydb_spark.storage", "ManifestBackend.read_manifest", "storage.read_manifest"),
    ("syzgydb_spark.storage", "ManifestBackend.commit_buckets", "storage.commit",
     "storage.conflict_retries"),
    ("syzgydb_spark.operators.knn", "search", "knn.search_plan"),
    ("syzgydb_spark.operators.lsh", "LshIndex.search", "lsh.search_plan"),
    ("syzgydb_spark.sources.warc", "ingest_warc_segments", "warc.ingest"),
    ("syzgydb_spark.sources.warc", "wet_text", "crawl.wet_text"),
    ("syzgydb_spark.operators.quality", "gopher_filters", "crawl.gopher_filters"),
] + [
    (f"syzgydb_spark.operators.{mod}", fn, f"crawl.{fn}")
    for mod, fns in {
        "bloom": ("build_bloom_store", "probe_bloom_store", "update_bloom_store"),
        "dedup": ("dedup_exact", "line_dedup", "build_fingerprint_store",
                  "build_line_store", "dedup_against_store",
                  "line_dedup_against_store", "update_fingerprint_store",
                  "update_line_store"),
        "sketch": ("build_mg_store", "update_mg_store"),
        "quantiles": ("build_quantile_store", "update_quantile_store",
                      "compact_quantile_store"),
        "maintenance": ("compact_bloom_store", "compact_mg_store",
                        "compact_fingerprint_store", "compact_line_store"),
    }.items()
    for fn in fns
]


def start_session(work: str):
    from syzgydb_spark import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = tmp
    n = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="e2ebench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process this run started
    (the JVM and its Python workers) to exit."""
    me = os.getpid()
    started = set(probes.process_tree(me)) - {me}
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def end_to_end(w, setup_s: float, loop_s: float, host) -> dict:
    lat = w.rec.all_latencies()
    items = w.items()
    write_amp, space_amp = w.amplification()
    cpu_ms = max(0.0, host.cpu_s - w.rec.client_cpu_s) * 1000
    return {
        "setup_s": (setup_s, "s"),
        "op_geomean_ms": (math.exp(statistics.fmean(map(math.log, lat))) * 1000
                          if lat else 0.0, "ms"),
        "items_per_s": (items / loop_s, "1/s"),
        "cpu_ms_per_item": (cpu_ms / max(1, items), "ms"),
        "peak_rss_mb": (host.peak_rss_mb, "MB"),
        "write_amp": (write_amp, "ratio"),
        "space_amp": (space_amp, "ratio"),
    }


def per_layer(w, tracer, session_ms: float, loop_s: float, host, gc_ms: float):
    """(metrics for the result line, every per-module metric for detail)."""
    ops = max(1, sum(tracer.ops_by_kind.values()))
    spark_tot = {k: sum(v[k] for v in tracer.spark_by_kind.values())
                 for k in probes.SPARK_KEYS}
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    out = {"session.start_ms": (session_ms, "ms")}
    for k, v in spark_tot.items():
        unit = units.get(k, "ms" if k.endswith("_ms") else "bytes")
        out[f"spark.{k}"] = (v / ops, unit)
    out["storage.files_written"] = (w.written_files / ops, "count")
    out["storage.bytes_written"] = (w.written_bytes / ops, "bytes")
    out["storage.files_live"] = (w.files_live(), "count")
    out["host.cpu_s"] = (host.cpu_s, "s")
    out["host.jvm_gc_ms"] = (gc_ms, "ms")
    out["host.peak_rss_mb"] = (host.peak_rss_mb, "MB")
    out["trace.counter_read_pct"] = (100.0 * tracer.counter_read_s / loop_s, "%")

    detail = {}
    for name, ds in sorted(tracer.durations().items()):
        detail[f"{name}_ms"] = statistics.median(ds)
        detail[f"{name}.calls"] = len(ds)
    for name, ms in sorted(tracer.self_times().items()):
        detail[f"{name}.self_ms_total"] = ms
    for name, n in tracer.counts.items():
        detail[name] = n
    for kind, c in tracer.spark_by_kind.items():
        n = max(1, tracer.ops_by_kind[kind])
        for k, v in c.items():
            detail[f"spark.{kind}.{k}"] = v / n
    # how much of each single-query search the plan and exec spans cover
    by_op = {}
    for name, a, b, parent, op in tracer.spans:
        if b is not None:
            by_op.setdefault(op, {}).setdefault(name, 0.0)
            by_op[op][name] += b - a
    for kind in ("ann", "exact"):
        shares = [(d.get("collection.plan", 0) + d.get("collection.exec", 0)) / d[f"op.{kind}"]
                  for d in by_op.values() if f"op.{kind}" in d]
        if shares:
            detail[f"collection.{kind}.plan_exec_pct"] = 100.0 * statistics.median(shares)
    detail.update(w.trace_detail())
    return out, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0, help="ignored")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import syzgydb_spark  # noqa: F401
        import examples.crawl_wave  # noqa: F401
    except ImportError as e:
        print(f"e2ebench: run from a syzgydb_spark checkout ({e})", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"e2ebench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".e2ebench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_ms = (time.perf_counter() - t0) * 1000
        tracer = probes.Tracer(spark) if args.trace else probes.NullTracer()
        if args.trace:
            tracer.install(TRACE_TARGETS)
        w = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        w.setup()
        setup_s = time.perf_counter() - t0

        host = probes.HostProbe()
        gc0 = probes.jvm_gc_ms(spark)
        tracer.reset()
        host.start()
        loop_s = w.run()
        host.stop()
        gc_ms = probes.jvm_gc_ms(spark) - gc0
        if args.trace:
            metrics, layer_detail = per_layer(w, tracer, session_ms, loop_s, host, gc_ms)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics, layer_detail = end_to_end(w, setup_s, loop_s, host), {}
        w.finish()
        detail = {"workload": args.workload, "seed": args.seed,
                  "ops": {k: len(v) for k, v in w.rec.lat.items()},
                  "host.steal_pct": host.steal_pct,
                  **w.detail(), **layer_detail}
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for e in w.rec.errors:
        print(f"e2ebench: wrong answer: {e}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": w.rec.failed == 0,
        "attempted": w.rec.attempted,
        "failed": w.rec.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if w.rec.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
