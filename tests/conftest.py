import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from syzgydb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="syzgydb-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def py4j_calls(spark):
    """``py4j_calls(fn)`` runs ``fn`` and returns ``(its result, the
    py4j round trips it made)``, counted at the gateway client's
    ``send_command``. Only the calling thread's commands count: py4j's
    finalizer thread releases dropped proxies on its own schedule."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command

    def run(fn):
        calls = 0
        caller = threading.get_ident()

        def counting(*args, **kwargs):
            nonlocal calls
            if threading.get_ident() == caller:
                calls += 1
            return real(*args, **kwargs)

        client.send_command = counting
        try:
            out = fn()
        finally:
            client.send_command = real
        return out, calls

    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry_dfs(spark, sf_dir):
    """Every queries() entry bound ONCE per session: three blanket
    gates (cartesian sweep, scalability sweep, result-shape sweep)
    each iterate the full registry, and binding a lifecycle query
    executes real store builds — paying that three times was ~90 s of
    pure repetition in the full run (r8 verdict task 8). The gates
    only inspect plans/schemas, never execute or mutate, so sharing
    the DataFrames is safe."""
    import __spark_entry__ as E

    return {name: fn(spark, sf_dir) for name, fn in E.queries().items()}


def _write_legacy_bucket_file(coll, rows):
    """Add ``rows`` (id, vector, metadata; ids new to ``coll``) as ONE
    EXTRA encoded parquet file per bucket they hash to, listed in the
    manifest next to that bucket's live files. That is the on-disk
    layout of a collection written before commits produced one file per
    bucket, when every input partition added its own file — the layout
    ``Collection.compact()`` exists to fold."""
    import shutil
    import uuid

    from syzgydb_spark.collection import Collection

    enc = coll._encode(coll.spark.createDataFrame(rows, Collection.SCHEMA_BASE))
    staging = os.path.join(coll.path, f"_staging_legacy_{uuid.uuid4().hex[:8]}")
    enc.coalesce(1).write.partitionBy("bucket").parquet(staging)
    man = coll._manifest()
    version = man["version"] + 1
    buckets = {b: list(files) for b, files in man["buckets"].items()}
    for entry in os.listdir(staging):
        if not entry.startswith("bucket="):
            continue
        dst_dir = os.path.join(coll._data_dir(), entry)
        os.makedirs(dst_dir, exist_ok=True)
        for fname in os.listdir(os.path.join(staging, entry)):
            if fname.endswith(".parquet"):
                name = f"v{version}-legacy-{fname}"
                os.replace(
                    os.path.join(staging, entry, fname), os.path.join(dst_dir, name)
                )
                buckets.setdefault(entry.split("=", 1)[1], []).append(name)
    shutil.rmtree(staging)
    coll._flip_manifest(
        {"version": version, "buckets": buckets}, expected_version=man["version"]
    )


@pytest.fixture(scope="session")
def legacy_bucket_file():
    """``f(coll, rows)``: fragment ``coll``'s buckets the way commits
    did before one-file-per-bucket (see ``_write_legacy_bucket_file``)."""
    return _write_legacy_bucket_file
