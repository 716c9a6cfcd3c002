"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest e2ebench -q -p no:cacheprovider
"""

import json
import os

import numpy as np
import pytest

import checks
import gen
import workloads


def test_vector_gen_is_deterministic_per_seed():
    a, b, c = (gen.VectorGen(np.random.default_rng(s)) for s in (7, 7, 8))
    xa, xb, xc = a.vectors(50), b.vectors(50), c.vectors(50)
    assert np.array_equal(xa, xb) and not np.array_equal(xa, xc)
    assert a.metadata(20) == b.metadata(20)
    assert np.allclose(np.linalg.norm(xa, axis=1), 1.0)
    fa = [gen.random_filter(np.random.default_rng(3)) for _ in range(2)]
    assert fa[0] == fa[1]


def test_crawl_gen_is_deterministic_and_plants_its_truth():
    waves = []
    for _ in range(2):
        g = gen.CrawlGen(np.random.default_rng(11), 200)
        waves.append([g.next_wave() for _ in range(3)])
    assert waves[0] == waves[1]
    assert waves[0] != [gen.CrawlGen(np.random.default_rng(12), 200).next_wave()
                        for _ in range(3)]
    seen = set()
    for docs, truth in waves[0]:
        texts = [t for _, t in docs]
        assert truth.docs == len(docs) == 200
        assert (truth.quality_fail, truth.repeats) == (30, 50)
        # every accepted doc is new; every repeat was seen before
        assert len(set(texts) - seen) == truth.accepted + truth.quality_fail
        seen |= set(texts)
    assert any(b in t for b in gen.BOILERPLATE for _, t in waves[0][0][0])


def test_percentile_and_sample_count_rule():
    xs = list(range(1, 101))
    assert checks.percentile(xs, 50) == 50
    assert checks.percentile(xs, 90) == 90
    assert checks.percentile([5], 90) == 5
    # p50 always, with its sample count; p90 only from 100 samples
    assert workloads.latency_stats("op", [0.002, 0.001, 0.003]) == {
        "op_p50_ms": 2.0, "op_n": 3}
    assert "op_p90_ms" not in workloads.latency_stats("op", [0.001] * 99)
    stats = workloads.latency_stats("op", [i / 1000 for i in range(1, 101)])
    assert (stats["op_p50_ms"], stats["op_p90_ms"], stats["op_n"]) == (50, 90, 100)
    assert workloads.latency_stats("op", []) == {}


def _shadow(n=300, seed=5):
    vg = gen.VectorGen(np.random.default_rng(seed))
    x = vg.vectors(n)
    return vg, gen.Shadow(range(n), x, vg.metadata(n), capacity=n + 10)


def test_topk_matches_naive_loop():
    vg, sh = _shadow()
    q = vg.query_near(sh.get(3)[0])
    flt = gen.random_filter(np.random.default_rng(1))
    naive = []
    for i in sh.live_ids():
        v, m = sh.get(int(i))
        if flt.matches(m):
            cos = float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q)))
            naive.append((float(np.arccos(np.clip(cos, -1, 1)) / np.pi), int(i)))
    naive.sort()
    got = sh.topk(q, 10, flt)
    assert [i for i, _ in got] == [i for _, i in naive[:10]]
    assert np.allclose([d for _, d in got], [d for d, _ in naive[:10]], atol=1e-12)


def test_exact_check_fails_on_planted_wrong_answers():
    vg, sh = _shadow()
    q = vg.query_near(sh.get(0)[0])
    truth = sh.topk(q, 10)
    meta = lambda i: sh.get(i)[1]  # noqa: E731
    good = [(i, d, json.dumps(meta(i))) for i, d in truth]
    assert checks.check_topk(good, truth, meta) is None
    wrong_id = [(truth[-1][0] + 10_000, *good[0][1:])] + good[1:]
    assert checks.check_topk(wrong_id, truth, meta)
    off_dist = [(good[0][0], good[0][1] + 1e-6, good[0][2])] + good[1:]
    assert checks.check_topk(off_dist, truth, meta)
    assert checks.check_topk(good[:-1], truth, meta)
    bad_meta = [(good[0][0], good[0][1], "{}")] + good[1:]
    assert checks.check_topk(bad_meta, truth, meta)


def test_ann_check_fails_on_planted_wrong_answers():
    vg, sh = _shadow()
    q = vg.query_near(sh.get(1)[0])
    flt = gen.random_filter(np.random.default_rng(2))
    truth = sh.topk(q, 10, flt)
    dist = lambda i: sh.distance(i, q)  # noqa: E731
    passes = lambda i: sh.get(i) is not None and flt.matches(sh.get(i)[1])  # noqa: E731
    got = [(i, d, None) for i, d in truth[::2]]  # half the true answers: valid
    assert checks.check_ann(got, 10, dist, passes) is None
    failing = next(int(i) for i in sh.live_ids() if not flt.matches(sh.get(int(i))[1]))
    assert checks.check_ann(got + [(failing, dist(failing), None)], 10, dist, passes)
    assert checks.check_ann([(got[0][0], got[0][1] * 1.01, None)], 10, dist, passes)
    assert checks.check_ann(got[::-1], 10, dist, passes)  # not ascending
    assert checks.check_ann(got * 3, 10, dist, passes)  # more than k rows
    assert checks.recall([i for i, *_ in got], [i for i, _ in truth]) == 0.5


def test_get_and_count_checks_fail_on_planted_wrong_answers():
    _, sh = _shadow()
    vec, meta = sh.get(4)
    assert checks.check_get((list(vec), json.dumps(meta)), sh.get(4)) is None
    assert checks.check_get(None, sh.get(4))
    assert checks.check_get((list(vec + 1e-12), json.dumps(meta)), sh.get(4))
    assert checks.check_get((list(vec), "{}"), sh.get(4))
    sh.remove(4)
    assert checks.check_get(None, sh.get(4)) is None
    assert checks.check_get((list(vec), json.dumps(meta)), sh.get(4))
    assert checks.check_count(sh.count(), 299) is None
    assert checks.check_count(300, sh.count())


def test_wave_check_fails_on_planted_wrong_answers():
    truth = gen.WaveTruth(docs=100, quality_fail=15, repeats=25)
    boot = {"wave_docs": 100, "quality_pass": 85, "accepted": 60, "bloom_skipped": 0}
    assert checks.check_wave(boot, truth, incremental=False) is None
    assert checks.check_wave({**boot, "accepted": 61}, truth, incremental=False)
    good = {**boot, "dedup_survivors": 60, "bloom_skipped": 55,
            "compacted": {"bloom": 2, "mg": 2, "qs": 1}}
    assert checks.check_wave(good, truth, incremental=True) is None
    # an incremental wave must report the store-dedup and compaction paths
    assert checks.check_wave(boot, truth, incremental=True)
    for key, val in (("quality_pass", 86), ("accepted", 61),
                     ("dedup_survivors", 85), ("bloom_skipped", 61),
                     ("compacted", {"bloom": 0, "mg": 2})):
        assert checks.check_wave({**good, key: val}, truth, incremental=True)


def test_amplification_by_hand(tmp_path):
    d = tmp_path / "coll"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x" * 100)
    (d / "b.parquet").write_bytes(b"x" * 50)
    before = checks.snapshot(str(d))
    # a commit writes a 300-byte replacement of b and a new 200-byte file
    (d / "b.parquet").unlink()
    (d / "c.parquet").write_bytes(b"x" * 300)
    os.replace(d / "c.parquet", d / "b.parquet")
    (d / "d.parquet").write_bytes(b"x" * 200)
    after = checks.snapshot(str(d))
    files, written = checks.created(before, after)
    assert (files, written) == (2, 500)
    assert checks.total_bytes(after) == 600
    # 500 bytes written for 250 submitted; 600 on disk for 400 live
    assert checks.amplification(written, 250, checks.total_bytes(after), 400) == (2.0, 1.5)


def test_shadow_upsert_remove_and_capacity():
    vg = gen.VectorGen(np.random.default_rng(0))
    x = vg.vectors(3)
    sh = gen.Shadow(range(3), x, vg.metadata(3), capacity=4)
    new = vg.vectors(3)
    sh.put(1, new[0], {"lang": "en"})  # overwrite
    sh.put(7, new[1], {"lang": "de"})  # new id, last free row
    with pytest.raises(IndexError):
        sh.put(8, new[2], {"lang": "fr"})
    sh.remove(0)
    assert sh.count() == 3 and sorted(sh.live_ids()) == [1, 2, 7]
    assert np.array_equal(sh.get(1)[0], new[0]) and sh.get(0) is None
    assert [i for i, _ in sh.topk(new[1], 1)] == [7]


def test_doc_bytes():
    assert gen.doc_bytes(64, {"a": 1}) == 8 + 512 + len('{"a": 1}')


@pytest.mark.parametrize("seed", [0, 1])
def test_filters_select_enough_rows(seed):
    vg = gen.VectorGen(np.random.default_rng(seed))
    metas = vg.metadata(2000)
    rng = np.random.default_rng(seed)
    for _ in range(50):
        flt = gen.random_filter(rng)
        assert sum(flt.matches(m) for m in metas) >= 100, flt.text
