"""The two upsert paths of ``Collection.add_documents``.

A list batch is validated, deduped, routed and encoded on the driver
(an Arrow ``LocalRelation``; index columns from the index operators'
numpy closures); a DataFrame batch is validated by a Spark job and its
index columns come from pandas UDFs on the executors. Both must store
identical rows, reject the same bad input, and commit nothing for an
empty batch; the list path must stay within its work ceiling.
"""

import json
import os

import numpy as np
import pytest

from syzgydb_spark.collection import Collection, CollectionOptions
from syzgydb_spark.operators.ivf import IvfIndex
from syzgydb_spark.operators.pq import PqIndex

DIM = 8

_KINDS = {
    "plain": {},
    "lsh_cosine": {"distance_method": "cosine", "lsh": {}},
    "lsh_euclidean": {"lsh": {"bucket_width": 0.5}},
    "pq_ivf": {
        "pq": PqIndex.from_seed(DIM, m=4, k=16, seed=3).to_dict(),
        "ivf": IvfIndex(np.random.default_rng(4).standard_normal((5, DIM))).to_dict(),
    },
    "promoted": {
        "promoted": {
            "i": {"col": "_pv0", "type": "double"},
            "v": {"col": "_pv1", "type": "string"},
        }
    },
    "metadata_schema": {"metadata_schema": "i BIGINT, v STRING"},
}


def _create(spark, path, bits, kind, n_buckets=2, dim=DIM):
    return Collection.create(spark, path, CollectionOptions(
        name="u", dimension_count=dim, quantization=bits,
        n_buckets=n_buckets, **_KINDS[kind],
    ))


def _batch(bits):
    """Rows exercising the encodings: components exactly on a rounding
    boundary after scaling (k + 0.5 steps), components outside [-1, 1],
    a zero vector, an int-valued vector, dict metadata, null metadata,
    an id overwriting a seeded row, and a duplicate id whose later
    occurrence also wins the DataFrame path's metadata tie-break."""
    rng = np.random.default_rng(bits)
    steps = (1 << bits) - 1
    half = [2.0 * (k + 0.5) / steps - 1.0 for k in range(DIM)]
    rows = [
        (0, half, {"i": 0, "v": "half"}),
        (1, [-x for x in half], json.dumps({"i": 1, "v": "neg"})),
        (2, [0.0] * DIM, None),
        (3, [1, 0, 2, -3, 0, 1, 1, 0], {"i": 3, "v": "a"}),
        (100, (rng.standard_normal(DIM) * 2.0).tolist(), {"i": 100, "v": "over"}),
    ]
    rows += [
        (i, (rng.standard_normal(DIM) * 1.5).tolist(), {"i": i, "v": f"r{i}"})
        for i in range(4, 12)
    ]
    rows.append((3, [0.25, -0.75, 0.5, 3.0, -1.0, 1.0, 0.0, 0.125], {"i": 3, "v": "b"}))
    return rows


def _as_frame(spark, rows):
    return spark.createDataFrame(
        [
            (
                i,
                None if v is None else [float(x) for x in v],
                m if m is None or isinstance(m, str) else json.dumps(m),
            )
            for i, v, m in rows
        ],
        Collection.SCHEMA_BASE,
    )


def _stored(coll):
    return sorted(coll._raw().collect(), key=lambda r: r["id"])


@pytest.mark.parametrize("kind", list(_KINDS))
@pytest.mark.parametrize("bits", [4, 8, 16, 32, 64])
def test_list_and_frame_batches_store_identical_rows(spark, tmp_path, bits, kind):
    """The driver path (list) and the executor path (DataFrame) encode
    alike: every stored column of every row is equal, for every
    quantization and index kind."""
    seed = [
        (i, [0.1 * i] * DIM, json.dumps({"i": i, "v": "seed"})) for i in (99, 100, 101)
    ]
    by_list = _create(spark, str(tmp_path / "list"), bits, kind)
    by_frame = _create(spark, str(tmp_path / "frame"), bits, kind)
    for c in (by_list, by_frame):
        c.add_documents(seed)
    by_list.add_documents(_batch(bits))
    by_frame.add_documents(_as_frame(spark, _batch(bits)))
    got, want = _stored(by_list), _stored(by_frame)
    assert [r["id"] for r in got] == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 99, 100, 101]
    assert got == want


def test_large_list_batch_matches_frame_batch(spark, tmp_path, monkeypatch):
    """Past ``spark.sql.execution.arrow.localRelationThreshold`` a list
    batch is an RDD of Arrow batches, read back as Arrow; past
    ``_ID_PREDICATE_MAX`` ids its merge anti-joins them. Both branches
    store what the DataFrame path stores."""
    from syzgydb_spark import collection

    monkeypatch.setattr(collection, "_ID_PREDICATE_MAX", 4)
    by_list = _create(spark, str(tmp_path / "list"), 8, "pq_ivf")
    by_frame = _create(spark, str(tmp_path / "frame"), 8, "pq_ivf")
    for c in (by_list, by_frame):
        c.add_documents(_batch(8)[:6])
    batch = _batch(8)[3:]
    prev = spark.conf.get("spark.sql.execution.arrow.localRelationThreshold")
    spark.conf.set("spark.sql.execution.arrow.localRelationThreshold", "0")
    try:
        by_list.add_documents(batch)
    finally:
        spark.conf.set("spark.sql.execution.arrow.localRelationThreshold", prev)
    by_frame.add_documents(_as_frame(spark, batch))
    assert _stored(by_list) == _stored(by_frame)
    assert by_list.count() == 13


def test_list_upsert_runs_two_jobs_and_no_python(spark, tmp_path):
    """A 100-doc list upsert into a 16-bucket LSH collection runs the
    bucket shuffle and the write, nothing else: 2 Spark jobs, and no
    Python evaluation node in the plan it writes."""
    rng = np.random.default_rng(0)
    c = _create(spark, str(tmp_path / "c"), 64, "lsh_cosine", n_buckets=16, dim=16)
    c.add_documents(
        [(i, rng.standard_normal(16).tolist(), json.dumps({"i": i})) for i in range(1000)]
    )

    def batch(lo):
        return [
            (i, rng.standard_normal(16).tolist(), json.dumps({"i": i}))
            for i in list(range(lo, lo + 50)) + list(range(1000 + lo, 1050 + lo))
        ]

    sc = spark.sparkContext
    sc.setJobGroup("list-upsert-ceiling", "list upsert")
    try:
        c.add_documents(batch(0))
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("list-upsert-ceiling")) == 2

    written = []
    commit = c._commit_buckets

    def capture(encoded, touched, **kw):
        written.append(encoded)
        return commit(encoded, touched, **kw)

    c._commit_buckets = capture
    c.add_documents(batch(100))
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan
    assert c.count() == 1100


@pytest.mark.parametrize("kind", ["plain", "lsh_cosine"])
@pytest.mark.parametrize("path", ["list", "frame"])
def test_null_vector_is_rejected(spark, tmp_path, path, kind):
    """A null vector has no dimension, so it fails the dimension check
    (collection.go:432-434) instead of dying in an index UDF or being
    stored and ranked first by every exact top-k."""
    c = _create(spark, str(tmp_path / "c"), 64, kind, dim=3)
    c.add_documents([(0, [1.0, 0.0, 0.0], "{}"), (1, [1.0, 1.0, 0.0], "{}")])
    rows = [(100, None, "{}")]
    with pytest.raises(ValueError, match="dimension mismatch"):
        c.add_documents(rows if path == "list" else _as_frame(spark, rows))
    assert c.get_all_ids() == [0, 1]
    hits = c.search([1.0, 1.0, 0.0], k=3, precision="exact").collect()
    assert [r["id"] for r in hits] == [1, 0]


@pytest.mark.parametrize("path", ["list", "frame"])
def test_null_id_is_rejected(spark, tmp_path, path):
    c = _create(spark, str(tmp_path / "c"), 64, "plain", dim=3)
    rows = [(None, [1.0, 0.0, 0.0], "{}")]
    with pytest.raises(ValueError, match="id must not be null"):
        c.add_documents(rows if path == "list" else _as_frame(spark, rows))
    assert c.count() == 0


def test_list_ids_go_through_operator_index(spark, tmp_path):
    """Numpy integers are ids; floats and strings are not."""
    c = _create(spark, str(tmp_path / "c"), 64, "plain", dim=3)
    c.add_documents([(np.int64(7), [1.0, 0.0, 0.0], "{}"), (np.int32(8), [0, 1, 0], "{}")])
    assert c.get_all_ids() == [7, 8]
    for bad in (1.5, "9"):
        with pytest.raises(TypeError):
            c.add_documents([(bad, [1.0, 0.0, 0.0], "{}")])
    assert c.get_all_ids() == [7, 8]


@pytest.mark.parametrize("path", ["list", "frame"])
def test_empty_batch_commits_nothing(spark, tmp_path, path):
    """An empty batch returns before the commit loop, as ``remove([])``
    does: the manifest version stays, and a list batch runs no job."""
    c = _create(spark, str(tmp_path / "c"), 64, "lsh_cosine", dim=3)
    c.add_documents([(1, [1.0, 0.0, 0.0], "{}")])
    version = c._manifest()["version"]
    sc = spark.sparkContext
    group = f"empty-batch-{path}"
    sc.setJobGroup(group, "empty batch")
    try:
        c.add_documents([] if path == "list" else _as_frame(spark, []))
    finally:
        sc.setJobGroup(None, None)
    assert c._manifest()["version"] == version
    with open(os.path.join(c.path, "manifest.json")) as f:
        assert json.load(f)["version"] == version
    if path == "list":
        assert sc.statusTracker().getJobIdsForGroup(group) == []
