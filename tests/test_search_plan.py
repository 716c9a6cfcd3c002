"""Single-query search plans are built from SQL text.

A plan built one Column node per py4j call cost about as much as running
the search; these tests bound the round trips of the plans a collection
builds per request, check that the SQL-text distance is bit-identical
to the Column form, and pin the plan shapes the text relies on."""

import json
import math
import os
import random

import pytest
from pyspark.sql import functions as F

from syzgydb_spark import Collection, CollectionOptions
from syzgydb_spark import collection as collection_mod
from syzgydb_spark.functions.vector import cosine_distance, euclidean_distance
from syzgydb_spark.operators.knn import search
from syzgydb_spark.query.compiler import where_filter
from syzgydb_spark.storage import ManifestConflictError

DIM = 16
FILTER = "score >= 0.2 AND score < 0.6"


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory):
    """16 buckets of one file each and an LSH index: the shape of a
    served collection."""
    rng = random.Random(3)
    c = Collection.create(
        spark,
        str(tmp_path_factory.mktemp("plan") / "c"),
        CollectionOptions(
            name="plan", dimension_count=DIM, distance_method="cosine",
            quantization=64, n_buckets=16, lsh={},
        ),
    )
    c.add_documents([
        (i, [rng.gauss(0, 1) for _ in range(DIM)],
         json.dumps({"score": round(rng.random(), 3), "lang": rng.choice("ab")}))
        for i in range(400)
    ])
    return c


def _query():
    rng = random.Random(11)
    return [rng.gauss(0, 1) for _ in range(DIM)]


@pytest.mark.parametrize("precision", ["exact", "medium"])
def test_filtered_search_plan_round_trips(coll, py4j_calls, precision):
    q = _query()
    coll.search(q, k=10, precision=precision, filter=FILTER)  # warm
    df, calls = py4j_calls(
        lambda: coll.search(q, k=10, precision=precision, filter=FILTER)
    )
    assert calls <= 150, calls
    assert len(df.collect()) == 10


def test_get_plan_round_trips(coll, py4j_calls):
    coll.get(7)  # warm
    _, calls = py4j_calls(lambda: coll.df(buckets=[3]).where("id = 7L"))
    assert calls <= 40, calls


def _fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _clamp_binding_vector():
    """A vector whose fold-order cosine with itself exceeds 1.0, so
    the [-1, 1] clamp decides its distance to itself and to its
    negation."""
    rng = random.Random(1)
    while True:
        v = [rng.uniform(-1, 1) for _ in range(8)]
        n = math.sqrt(_fold(v, v))
        if _fold(v, v) / (n * n) > 1.0:
            return v


@pytest.mark.parametrize("method,column_fn", [
    ("cosine", cosine_distance), ("euclidean", euclidean_distance),
])
def test_search_distance_equals_column_distance(spark, method, column_fn):
    v = _clamp_binding_vector()
    rng = random.Random(5)
    rows = [(0, [0.0] * 8), (1, v), (2, [-x for x in v])] + [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, "id BIGINT, vector ARRAY<DOUBLE>")
    for q in (v, [0.0] * 8, rows[7][1]):
        got = {
            r["id"]: r["distance"]
            for r in search(df, q, k=len(rows), method=method).collect()
        }
        want = {
            r["id"]: r["d"]
            for r in df.select(
                "id", column_fn("vector", F.lit(q).cast("array<double>")).alias("d")
            ).collect()
        }
        assert got == want
    if method == "cosine":
        # the clamp binds: the vector is at distance 0 from itself and
        # 1 from its negation, not NaN
        got = {r["id"]: r["distance"] for r in search(df, v, k=3, method=method).collect()}
        assert got[1] == 0.0
        assert search(df.where("id = 2"), v, k=1, method=method).collect()[0][
            "distance"
        ] == 1.0


def test_cosine_search_plan_folds_each_row_three_times(coll):
    """The query's norm is a driver-side literal: the per-row
    projection folds the dot product and the row's own norm (twice),
    and no fold runs over the query literal."""
    plan = coll.search(_query(), k=5, precision="exact")._jdf.queryExecution()
    text = plan.optimizedPlan().toString()
    line = next(ln for ln in text.splitlines() if "ACOS" in ln)
    assert line.count("aggregate(") == 3, line
    assert "transform([" not in line  # no fold over the query literal


def test_hoisted_columns_survive_optimization(spark):
    """where_filter's sub-variant columns stay materialized below the
    Filter: the optimizer neither inlines them into the predicate nor
    pushes the predicate under the rand() barrier."""
    df = spark.createDataFrame(
        [(1, '{"a": {"b": 3}}'), (2, '{"a": {"b": 9}}')], "id INT, metadata STRING"
    )
    out = where_filter(df, "a.b > 5 AND a.b < 10")
    assert [r["id"] for r in out.collect()] == [2]
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    filt = next(i for i, ln in enumerate(lines) if "Filter" in ln)
    below = "\n".join(lines[filt + 1:])
    # the predicate reads the hoisted attributes; the path walks
    # ($.a, $.b) and the JSON parse run once per row, below it
    assert "__syz_s1" in lines[filt] and "__syz_t1" in lines[filt]
    assert "$.a" not in lines[filt] and "$.b" not in lines[filt]
    assert "try_parse_json" not in lines[filt]
    assert "rand(42)" in below and "$.a" in below and "$.b" in below


def test_update_metadata_runs_two_spark_jobs(coll, spark):
    sc = spark.sparkContext
    sc.setJobGroup("update-jobs", "update_metadata")
    try:
        coll.update_metadata(42, json.dumps({"score": 0.5, "lang": "a"}))
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("update-jobs")) <= 2
    assert json.loads(coll.get(42)["metadata"]) == {"score": 0.5, "lang": "a"}


def test_update_metadata_missing_id_leaves_no_trace(coll):
    before = coll._manifest()
    files = {
        os.path.join(d, f)
        for d, _, fs in os.walk(coll.path) for f in fs
    }
    with pytest.raises(KeyError):
        coll.update_metadata(10**9, "{}")
    assert coll._manifest() == before
    assert {
        os.path.join(d, f) for d, _, fs in os.walk(coll.path) for f in fs
    } == files


def test_short_listing_is_a_stale_scan(coll, monkeypatch):
    """A scan whose listing lost some manifest files: a live read
    re-snapshots, a pinned manifest raises ManifestConflictError."""
    real = collection_mod._listed_file_count
    calls = []

    def short_once(df):
        calls.append(1)
        n = real(df)
        return n - 1 if len(calls) == 1 else n

    monkeypatch.setattr(collection_mod, "_listed_file_count", short_once)
    row = coll.get(5)
    assert row is not None and row["id"] == 5
    assert len(calls) == 2  # the short listing was retried

    calls.clear()
    with pytest.raises(ManifestConflictError):
        coll._raw(manifest=coll._manifest())
