"""WARC / WET source — CommonCrawl-style web-archive ingestion.

A 100 TB text pipeline's raw input is usually WARC (ISO 28500) or its
WET (extracted-text conversion) variant: a byte stream of records,
each a version line + CRLF headers + ``Content-Length`` octets of
payload + a blank-line separator. No library dependency is needed —
the format is a strict header parse with Content-Length framing (the
payload may itself contain ``WARC/1.0``; scanning for magic instead of
honoring Content-Length is the classic corruption bug, pinned by
tests/test_warc.py::test_payload_containing_magic).

Spark plumbing: segments land as one file each (CommonCrawl ships
~1 GB gzip segments), so ``read_warc`` parallelizes BY FILE — one task
per segment, no shuffle at all; downstream operators see ordinary
(uri, date, payload) rows. Two routes: the STREAMING route (default
for local paths) lists paths only and each task opens + streams its
segment (``parse_warc_stream``: incremental gzip, one record in
memory, Arrow batches flushed every ``FLUSH_BYTES``) — measured 3.3x
less peak RSS and 1.9x faster than whole-bytes on ~393 MB segments
(tools/bench_warc.py, docs/SCALE.md); the WHOLE-BYTES route
(``binaryFile`` content column → bytes parser) remains for
object-store schemes. Whole-segment gzip is handled with the stdlib;
record-level (member-per-record) gzip concatenations also decompress
with the same call, because gzip members concatenate.

Extraction to the ``documents`` shape is ``wet_text`` (conversion
records → utf-8 text), after which the whole dedup/quality/tokenizer
surface applies unchanged. Oracle query ``warc_roundtrip``
(__spark_entry__) plants multi-record segments from the documents
table executor-side, parses them back through this module, and
hash-matches DuckDB recomputing the planted fields.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

WARC_SCHEMA = (
    "path string, record_id string, warc_type string, target_uri string, "
    "warc_date string, content_type string, content_length long, "
    "payload binary"
)


def _make_warc_parser():
    """Closure-shipped parser (cloudpickle by value; see multimodal)."""

    def parse_warc(data: bytes):
        """Yield ``(headers: dict[str, str], payload: bytes)`` per
        record. Strict: bad version line, malformed header, missing or
        short Content-Length all raise ValueError naming the offset."""
        import gzip as _gzip

        if data[:2] == b"\x1f\x8b":  # whole-segment (or member-wise) gzip
            data = _gzip.decompress(data)
        pos, n = 0, len(data)
        while pos < n:
            # tolerate inter-record blank lines
            while pos < n and data[pos:pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                return
            eol = data.find(b"\r\n", pos)
            if eol < 0:
                raise ValueError(f"no version line terminator at offset {pos}")
            version = data[pos:eol]
            if not version.startswith(b"WARC/"):
                raise ValueError(
                    f"expected WARC/x.y version line at offset {pos}, "
                    f"got {version[:20]!r}"
                )
            pos = eol + 2
            headers: dict[str, str] = {}
            while True:
                eol = data.find(b"\r\n", pos)
                if eol < 0:
                    raise ValueError(f"unterminated header block at offset {pos}")
                line = data[pos:eol]
                pos = eol + 2
                if not line:
                    break  # blank line: headers done
                if b":" not in line:
                    raise ValueError(f"malformed header line {line[:40]!r}")
                k, v = line.split(b":", 1)
                headers[k.decode("ascii").strip().lower()] = v.decode(
                    "utf-8", "replace"
                ).strip()
            if "content-length" not in headers:
                raise ValueError("record missing Content-Length header")
            try:
                length = int(headers["content-length"])
            except ValueError:
                raise ValueError(
                    f"bad Content-Length {headers['content-length']!r}"
                ) from None
            if pos + length > n:
                raise ValueError(
                    f"payload truncated: need {length} octets at offset {pos}, "
                    f"have {n - pos}"
                )
            yield headers, data[pos:pos + length]
            pos += length

    return parse_warc


parse_warc = _make_warc_parser()


def _make_warc_stream_parser():
    """Streaming twin of ``_make_warc_parser``: reads records from a
    FILE OBJECT instead of a whole-segment bytes value, so memory per
    task is one record (+ gzip window), not one segment. Same framing
    contract and error vocabulary (version line, CRLF headers,
    Content-Length octets); gzip segments stream through
    ``gzip.GzipFile`` — member-per-record concatenations decompress
    the same way. Closure-shipped like every other executor fn."""

    def parse_warc_stream(fh):
        import gzip as _gzip
        import io as _io

        bf = fh if isinstance(fh, _io.BufferedReader) else _io.BufferedReader(fh)
        if bf.peek(2)[:2] == b"\x1f\x8b":
            bf = _io.BufferedReader(_gzip.GzipFile(fileobj=bf))
        while True:
            line = bf.readline()
            while line == b"\r\n":  # tolerate inter-record blank lines
                line = bf.readline()
            if not line:
                return
            if not line.endswith(b"\n"):
                raise ValueError("no version line terminator at stream end")
            version = line.rstrip(b"\r\n")
            if not version.startswith(b"WARC/"):
                raise ValueError(
                    f"expected WARC/x.y version line, got {version[:20]!r}"
                )
            headers: dict[str, str] = {}
            while True:
                hline = bf.readline()
                if not hline or not hline.endswith(b"\n"):
                    raise ValueError("unterminated header block at stream end")
                hline = hline.rstrip(b"\r\n")
                if not hline:
                    break  # blank line: headers done
                if b":" not in hline:
                    raise ValueError(f"malformed header line {hline[:40]!r}")
                k, v = hline.split(b":", 1)
                headers[k.decode("ascii").strip().lower()] = v.decode(
                    "utf-8", "replace"
                ).strip()
            if "content-length" not in headers:
                raise ValueError("record missing Content-Length header")
            try:
                length = int(headers["content-length"])
            except ValueError:
                raise ValueError(
                    f"bad Content-Length {headers['content-length']!r}"
                ) from None
            payload = bf.read(length)
            if len(payload) < length:
                raise ValueError(
                    f"payload truncated: need {length} octets, "
                    f"have {len(payload)}"
                )
            yield headers, payload

    return parse_warc_stream


parse_warc_stream = _make_warc_stream_parser()


#: flush a pandas frame out of the parser once its payload bytes reach
#: this, so a 1 GB-class segment becomes ~16 Arrow batches instead of
#: one giant frame (bounds executor + Arrow memory; also keeps every
#: binary column far from Arrow's 2 GB per-array offset limit)
FLUSH_BYTES = 64 * 1024 * 1024


def _make_local_path():
    """Factory so readers capture a CLOSURE-shipped copy (cloudpickle
    by value) — a module-level function captured in an executor
    closure pickles by reference and would require this package on
    the workers' PYTHONPATH (the multimodal/warc-parser rule)."""

    def local_path(p: str):
        """URI/path → local filesystem path, or None if not local (the
        streaming reader opens files directly; non-local schemes fall
        back to the whole-bytes binaryFile route)."""
        if p.startswith("file:"):
            from urllib.parse import unquote, urlparse

            return unquote(urlparse(p).path)
        if "://" not in p and not p.startswith(
                ("hdfs:", "s3:", "s3a:", "gs:")):
            return p
        return None

    return local_path


_local_path = _make_local_path()


def _default_open_fn():
    """Closure-shipped default opener: local paths via ``open``.
    Deployments with segments in object storage pass their own
    ``open_fn`` (e.g. ``lambda p: fsspec.open(p, "rb").open()``) to
    the streaming readers — the parser and flush machinery are
    scheme-agnostic; only the byte source differs."""
    local = _make_local_path()

    def open_fn(p: str):
        lp = local(p)
        if lp is None:
            raise ValueError(
                f"streaming reader has no opener for {p!r}; pass "
                f"open_fn (e.g. fsspec) or use the whole-bytes "
                f"binaryFile route (warc_records_df)"
            )
        return open(lp, "rb")

    return open_fn


def warc_records_df(files_df: DataFrame) -> DataFrame:
    """``binaryFile`` rows (path, content) → one row per WARC record.

    One task per segment file; the parse never shuffles. Keep the
    projection narrow downstream — ``payload`` is the only wide column
    and parquet/late materialization skips it unless selected. Records
    are flushed every ``FLUSH_BYTES`` of payload, so peak memory per
    task is one segment's BYTES (the binaryFile row) + one flush
    window, not bytes + all parsed records. For local paths prefer
    ``warc_records_from_paths`` (streaming open, no whole-segment
    row at all — measured 3.3x less peak RSS and 1.9x faster on
    ~393 MB segments, docs/SCALE.md)."""
    import pandas as pd

    parse = _make_warc_parser()
    flush = FLUSH_BYTES
    src = files_df.select("path", "content")
    cols = ["path", "record_id", "warc_type", "target_uri", "warc_date",
            "content_type", "content_length", "payload"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, acc = [], 0
            for _, r in pdf.iterrows():
                for headers, payload in parse(bytes(r["content"])):
                    rows.append({
                        "path": r["path"],
                        "record_id": headers.get("warc-record-id"),
                        "warc_type": headers.get("warc-type"),
                        "target_uri": headers.get("warc-target-uri"),
                        "warc_date": headers.get("warc-date"),
                        "content_type": headers.get("content-type"),
                        "content_length": len(payload),
                        "payload": payload,
                    })
                    acc += len(payload)
                    if acc >= flush:
                        yield pd.DataFrame(rows, columns=cols)
                        rows, acc = [], 0
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=WARC_SCHEMA)


def warc_records_from_paths(paths_df: DataFrame, *,
                            flush_bytes: int = FLUSH_BYTES,
                            open_fn=None) -> DataFrame:
    """Streaming segment reader: rows carrying only ``path`` → one row
    per WARC record. Each task OPENS its segment file and streams
    records through ``parse_warc_stream`` (gzip decompressed
    incrementally), flushing a frame every ``FLUSH_BYTES`` of payload —
    peak memory per task is one flush window + one record, independent
    of segment size. This is the 1 GB-class CommonCrawl path: the
    whole-bytes ``binaryFile`` route materializes segment bytes as a
    JVM row AND Arrow-ships them to Python before parsing; this route
    ships only the path string. Local/file: paths only — callers fall
    back to ``warc_records_df`` for object-store schemes (where the
    read must go through Hadoop)."""
    import pandas as pd

    parse = _make_warc_stream_parser()
    opener = open_fn or _default_open_fn()
    flush = flush_bytes
    src = paths_df.select("path")
    cols = ["path", "record_id", "warc_type", "target_uri", "warc_date",
            "content_type", "content_length", "payload"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, acc = [], 0
            for p in pdf["path"]:
                with opener(p) as fh:
                    for headers, payload in parse(fh):
                        rows.append({
                            "path": p,
                            "record_id": headers.get("warc-record-id"),
                            "warc_type": headers.get("warc-type"),
                            "target_uri": headers.get("warc-target-uri"),
                            "warc_date": headers.get("warc-date"),
                            "content_type": headers.get("content-type"),
                            "content_length": len(payload),
                            "payload": payload,
                        })
                        acc += len(payload)
                        if acc >= flush:
                            yield pd.DataFrame(rows, columns=cols)
                            rows, acc = [], 0
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=WARC_SCHEMA)


def read_warc(spark, path: str, *, stream: bool | str = "auto",
              open_fn=None) -> DataFrame:
    """Read WARC/WET segment files under ``path`` (glob ok) into the
    per-record DataFrame. Parallelism = number of segment files.
    ``stream`` selects the constant-memory streaming reader (default
    ``"auto"``: streaming when the listing is file:-scheme or a custom
    ``open_fn`` is supplied, whole-bytes binaryFile otherwise).
    ``open_fn`` (closure-shippable ``path -> binary file object``,
    e.g. fsspec) lets object-store deployments stream too."""
    files = spark.read.format("binaryFile").load(path)
    if stream == "auto":
        if open_fn is not None:
            stream = True
        else:
            # listing only — content column untouched
            head = files.select("path").limit(1).collect()
            stream = bool(head) and _local_path(head[0]["path"]) is not None
    if stream:
        return warc_records_from_paths(files.select("path"),
                                       open_fn=open_fn)
    return warc_records_df(files)


LEDGER_SCHEMA = (
    "path string, modification_time timestamp, length long, "
    "n_records long, error string"
)

# quarantine-mode batches carry a dedicated boolean column for parse
# failures.  A *column* rather than a sentinel warc_type value: WARC
# headers are untrusted input, so a crafted record saying
# "WARC-Type: __parse_error__" must not be able to impersonate a
# quarantine marker (dropped by readers + segment re-ingested on
# retry_failed, duplicating its healthy siblings).  The parser can
# never set this column — only the except-branch below does.
INGEST_SCHEMA = WARC_SCHEMA + ", parse_error boolean"

# corruption surfaces as ValueError from the framing parser, but the
# gzip layer raises EOFError (truncated stream), gzip.BadGzipFile
# (an OSError subclass; bad magic/header), or zlib.error (corrupt
# deflate data) — a truncated gzip segment is the most common real
# corruption in crawl dumps and must quarantine, not abort the wave
_PARSE_ERRORS = (ValueError, EOFError, OSError)


def _records_df_with_markers(files_df: DataFrame) -> DataFrame:
    """``warc_records_df`` variant for quarantine-mode ingest: a
    segment whose parse raises contributes ONE marker row
    (``parse_error = true``, ``target_uri`` = the error) instead of
    failing the task — records already yielded by the broken segment
    are discarded (a truncated segment must not half ingest)."""
    import pandas as pd
    import zlib

    parse = _make_warc_parser()
    src = files_df.select("path", "content")
    catch = _PARSE_ERRORS + (zlib.error,)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["path", "record_id", "warc_type", "target_uri", "warc_date",
                "content_type", "content_length", "payload", "parse_error"]
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                seg_rows = []
                try:
                    for headers, payload in parse(bytes(r["content"])):
                        seg_rows.append({
                            "path": r["path"],
                            "record_id": headers.get("warc-record-id"),
                            "warc_type": headers.get("warc-type"),
                            "target_uri": headers.get("warc-target-uri"),
                            "warc_date": headers.get("warc-date"),
                            "content_type": headers.get("content-type"),
                            "content_length": len(payload),
                            "payload": payload,
                            "parse_error": False,
                        })
                except catch as e:
                    seg_rows = [{
                        "path": r["path"],
                        "record_id": None,
                        "warc_type": None,
                        "target_uri":
                            f"{type(e).__name__}: {str(e)[:480]}",
                        "warc_date": None,
                        "content_type": None,
                        "content_length": 0,
                        "payload": None,
                        "parse_error": True,
                    }]
                rows.extend(seg_rows)
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=INGEST_SCHEMA)


def _records_from_paths_with_markers(
        paths_df: DataFrame, *,
        flush_bytes: int = FLUSH_BYTES,
        open_fn=None) -> DataFrame:
    """Streaming quarantine reader: two passes per segment — pass 1
    streams the whole segment purely to VALIDATE it (payloads read and
    discarded, memory stays one record), pass 2 re-streams and emits
    records with ``FLUSH_BYTES`` chunking. Two passes because the
    quarantine contract (a broken segment contributes one marker row
    and NOTHING else) conflicts with incremental flushing — by the
    time a mid-segment truncation surfaces, earlier chunks would
    already be out. Costs a second read+decompress of each segment;
    keeps peak memory flat at any segment size."""
    import zlib

    import pandas as pd

    parse = _make_warc_stream_parser()
    opener = open_fn or _default_open_fn()
    catch = _PARSE_ERRORS + (zlib.error,)
    flush = flush_bytes
    src = paths_df.select("path")
    cols = ["path", "record_id", "warc_type", "target_uri", "warc_date",
            "content_type", "content_length", "payload", "parse_error"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, acc = [], 0
            for p in pdf["path"]:
                try:
                    with opener(p) as fh:
                        for _ in parse(fh):  # validate pass
                            pass
                except catch as e:
                    rows.append({
                        "path": p, "record_id": None, "warc_type": None,
                        "target_uri": f"{type(e).__name__}: {str(e)[:480]}",
                        "warc_date": None, "content_type": None,
                        "content_length": 0, "payload": None,
                        "parse_error": True,
                    })
                    continue
                with opener(p) as fh:  # emit pass
                    for headers, payload in parse(fh):
                        rows.append({
                            "path": p,
                            "record_id": headers.get("warc-record-id"),
                            "warc_type": headers.get("warc-type"),
                            "target_uri": headers.get("warc-target-uri"),
                            "warc_date": headers.get("warc-date"),
                            "content_type": headers.get("content-type"),
                            "content_length": len(payload),
                            "payload": payload,
                            "parse_error": False,
                        })
                        acc += len(payload)
                        if acc >= flush:
                            yield pd.DataFrame(rows, columns=cols)
                            rows, acc = [], 0
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=INGEST_SCHEMA)


def _hfs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _list_batches(spark, path: str, *,
                  require_success: bool = False) -> list[str]:
    """Tokens of every ``batch=<token>`` child dir (opaque
    ``<n>-<uuid>`` values; ordering is irrelevant).

    ``require_success=True`` is the ledger's commit test: Spark's
    output committer creates ``_SUCCESS`` only after every data file
    has been moved into place, so a driver crash mid-ledger-write
    leaves a dir that is NOT treated as committed — without this, a
    half-written ledger batch makes its records batch reader-visible
    while the segment paths are missing from ``seen``, and the next
    run re-ingests them (duplicate records)."""
    fs, p, jvm = _hfs(spark, path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            if require_success and not fs.exists(
                    jvm.org.apache.hadoop.fs.Path(
                        st.getPath(), "_SUCCESS")):
                continue
            out.append(name.split("=", 1)[1])
    return out


def ingest_warc_segments(spark, segments_path: str, store_path: str,
                         *, clean_orphans: bool = True,
                         on_error: str = "fail",
                         retry_failed: bool = False,
                         open_fn=None) -> dict:
    """Resumable, exactly-once segment ingestion — the operational
    front door a 100 TB crawl needs: dumps arrive in waves, ingest
    jobs die mid-run, and a replay must neither re-parse finished
    segments nor double-count a half-written batch.

    Layout under ``store_path``::

        records/batch=<token>/   parsed WARC records (WARC_SCHEMA)
        ledger/batch=<token>/    one row per ingested segment
                                 (path, modification_time, length,
                                  n_records) — the COMMIT POINT

    Protocol: list segment files (``binaryFile`` metadata only — the
    content column is never touched for already-ingested segments),
    anti-join against the ledger, parse only NEW segments into a fresh
    uuid-suffixed records batch, and only then write that batch's
    ledger rows. A crash before the ledger write leaves an orphan
    records dir that readers NEVER see (``read_ingested_records``
    reads only ledger-committed batches); the segments stay absent
    from the ledger, so the next run re-ingests them into a new batch
    — replays are exactly-once from the reader's point of view.
    Orphan dirs from dead runs are removed at the start of the next
    ingest (``clean_orphans``; assumes ONE ingestor per store at a
    time — concurrent ingestors should pass False and vacuum
    out-of-band, the same single-writer stance as the dedup stores).

    Segments are treated as immutable once ingested (the CommonCrawl
    contract) — a path already in the ledger is skipped even if its
    bytes changed; mtime/length are recorded for audit. The new-path
    list is collected driver-side: bounded by SEGMENT count (~1e5
    strings at 100 TB with ~1 GB segments), never by record count.
    Zero-LENGTH files never appear (Spark's binaryFile listing skips
    them — they carry no records); a non-empty segment that parses to
    zero records still gets a ledger row so it is not re-read forever.

    Corrupt segments (``on_error``): the default ``"fail"`` aborts the
    wave on the first parse error — nothing commits. At 100k segments
    a single truncated file shouldn't kill the run, so
    ``on_error="quarantine"`` ingests every healthy segment and gives
    each broken one a ledger row with the parse error in the
    ``error`` column and ``n_records`` 0 (no partial records land: a
    segment either parses completely or contributes nothing).
    Quarantined paths are NOT retried on later runs — they're in the
    ledger — until a run passes ``retry_failed=True``, which treats
    errored ledger rows as unseen; a successful retry adds a clean
    row (the audit relation keeps both attempts).

    Returns ``{"new_segments": n, "n_records": n, "n_failed": n,
    "batch": token}``.
    """
    import posixpath
    import uuid

    from pyspark.sql import functions as F

    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', "
                         f"got {on_error!r}")

    records_dir = posixpath.join(store_path, "records")
    ledger_dir = posixpath.join(store_path, "ledger")

    committed = _list_batches(spark, ledger_dir, require_success=True)
    if clean_orphans:
        fs, _, jvm = _hfs(spark, records_dir)
        for tok in set(_list_batches(spark, records_dir)) - set(committed):
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                posixpath.join(records_dir, f"batch={tok}")), True)
        # half-written ledger dirs (no _SUCCESS: driver died mid-commit)
        # are junk from dead runs too — their records dir was just
        # removed above, so remove the dangling ledger dir as well
        for tok in set(_list_batches(spark, ledger_dir)) - set(committed):
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                posixpath.join(ledger_dir, f"batch={tok}")), True)

    files = (
        spark.read.format("binaryFile").load(segments_path)
        .select("path", "modificationTime", "length")
    )
    if committed:
        # explicit schema: pre-`error`-column ledger batches read as
        # error = NULL instead of breaking the union
        ledger = spark.read.schema(LEDGER_SCHEMA).parquet(
            *[posixpath.join(ledger_dir, f"batch={t}") for t in committed])
        seen = ledger.select("path")
        if retry_failed:
            seen = ledger.where(F.col("error").isNull()).select("path")
        files = files.join(seen, "path", "left_anti")
    new = files.collect()  # bounded: one row per NEW segment file
    if not new:
        return {"new_segments": 0, "n_records": 0, "n_failed": 0,
                "batch": None}

    token = f"{len(committed)}-{uuid.uuid4().hex[:12]}"
    batch_dir = posixpath.join(records_dir, f"batch={token}")
    paths = [r["path"] for r in new]
    if open_fn is not None or all(_local_path(p) is not None
                                  for p in paths):
        # streaming route: one task per segment, no whole-segment row —
        # peak memory per task is a FLUSH_BYTES window at ANY segment
        # size (measured on 384 MB segments, docs/SCALE.md)
        pdf = spark.createDataFrame(
            [(p,) for p in paths], "path string").repartition(len(paths))
        recs = (_records_from_paths_with_markers(pdf, open_fn=open_fn)
                if on_error == "quarantine"
                else warc_records_from_paths(pdf, open_fn=open_fn))
    else:
        src = spark.read.format("binaryFile").load(paths)
        recs = (_records_df_with_markers(src) if on_error == "quarantine"
                else warc_records_df(src))
    recs.write.mode("overwrite").parquet(batch_dir)

    # per-segment record counts come from the WRITTEN batch (a narrow
    # re-scan of new data only), so the ledger attests what actually
    # landed; a segment yielding 0 records still gets a ledger row
    # (outer join) so it is not re-parsed forever. Quarantine marker
    # rows (parse_error column — fail-mode batches read it as NULL via
    # the explicit schema) become the `error` column and never count
    # as records.
    written = spark.read.schema(INGEST_SCHEMA).parquet(batch_dir)
    counts = written.groupBy("path").agg(
        F.count(F.when(~F.col("parse_error").eqNullSafe(True), 1))
        .alias("n_records"),
        F.max(F.when(F.col("parse_error").eqNullSafe(True),
                     F.col("target_uri"))).alias("error"),
    )
    meta = spark.createDataFrame(
        [(r["path"], r["modificationTime"], r["length"]) for r in new],
        "path string, modification_time timestamp, length long",
    )
    ledger_rows = (
        meta.join(counts, "path", "left")
        .withColumn("n_records", F.coalesce("n_records", F.lit(0)))
        .select("path", "modification_time", "length", "n_records", "error")
    )
    # evaluated once: one row per NEW segment (bounded like `new`), so
    # the rows are collected, totalled here, and written from the driver
    # instead of re-running the batch scan, group-by and join for the
    # write
    rows = ledger_rows.collect()
    # COMMIT POINT: the batch becomes visible to readers here
    spark.createDataFrame(rows, ledger_rows.schema).coalesce(1).write.mode(
        "overwrite").parquet(posixpath.join(ledger_dir, f"batch={token}"))
    return {"new_segments": len(new),
            "n_records": sum(r["n_records"] for r in rows),
            "n_failed": sum(r["error"] is not None for r in rows),
            "batch": token}


def read_ingested_records(spark, store_path: str) -> DataFrame:
    """All ledger-committed records (orphan batches from interrupted
    ingests are invisible; a ledger dir without ``_SUCCESS`` is not a
    commit). One parquet scan over committed batch dirs — no shuffle.
    Quarantine markers are excluded via the dedicated ``parse_error``
    column, so untrusted WARC headers cannot spoof a marker; fail-mode
    batches lack the column and read as NULL through the explicit
    schema."""
    import posixpath

    from pyspark.sql import functions as F

    committed = _list_batches(spark, posixpath.join(store_path, "ledger"),
                              require_success=True)
    if not committed:
        return spark.createDataFrame([], WARC_SCHEMA)
    return spark.read.schema(INGEST_SCHEMA).parquet(*[
        posixpath.join(store_path, "records", f"batch={t}")
        for t in committed
    ]).where(~F.col("parse_error").eqNullSafe(True)).drop("parse_error")


def read_ingest_ledger(spark, store_path: str) -> DataFrame:
    """The audit relation: one row per ingest ATTEMPT (a quarantined
    path that later succeeds under ``retry_failed`` keeps both rows —
    the errored one and the clean one). Explicit schema so ledger
    batches written before the ``error`` column read as NULL."""
    import posixpath

    committed = _list_batches(spark, posixpath.join(store_path, "ledger"),
                              require_success=True)
    if not committed:
        return spark.createDataFrame([], LEDGER_SCHEMA)
    return spark.read.schema(LEDGER_SCHEMA).parquet(*[
        posixpath.join(store_path, "ledger", f"batch={t}")
        for t in committed
    ])


def wet_text(records: DataFrame, *, min_chars: int = 1) -> DataFrame:
    """WET conversion records → the ``documents``-shaped text relation
    (uri, fetch date, text). Non-conversion records (requests,
    metadata) are filtered BEFORE the payload column is touched."""
    from pyspark.sql import functions as F

    return (
        records.where(F.col("warc_type") == "conversion")
        .select(
            F.col("target_uri").alias("uri"),
            F.col("warc_date").alias("fetched_at"),
            F.decode(F.col("payload"), "UTF-8").alias("text"),
        )
        .where(F.length("text") >= min_chars)
    )
