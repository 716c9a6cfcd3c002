"""Seeded input generators and the shadow models the checks compare against.

Everything here is plain NumPy/Python: the engine under test only ever
sees what these functions return. The same seed gives the same inputs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

DIM = 64
N_CLUSTERS = 64
LANGS = ("en", "de", "fr", "es", "ja")
LANG_P = (0.4, 0.2, 0.15, 0.15, 0.1)
TAGS = ("news", "blog", "forum", "wiki", "shop")


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=-1, keepdims=True)


class VectorGen:
    """Vectors from a mixture of ``N_CLUSTERS`` clusters on the unit sphere,
    and JSON metadata ``{"lang", "score", "tags"}``."""

    def __init__(self, rng: np.random.Generator, dim: int = DIM):
        self.rng = rng
        self.dim = dim
        self.centers = _unit(rng.normal(size=(N_CLUSTERS, dim)))

    def vectors(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, N_CLUSTERS, n)
        noise = self.rng.normal(size=(n, self.dim)) * (0.35 / np.sqrt(self.dim))
        return _unit(self.centers[lab] + noise)

    def metadata(self, n: int) -> list[dict]:
        rng = self.rng
        langs = rng.choice(len(LANGS), size=n, p=LANG_P)
        scores = np.round(rng.uniform(0.0, 1.0, n), 3)
        n_tags = rng.integers(0, 4, n)
        tag_order = np.argsort(rng.random((n, len(TAGS))), axis=1)
        return [
            {
                "lang": LANGS[langs[i]],
                "score": float(scores[i]),
                "tags": sorted(TAGS[t] for t in tag_order[i, : n_tags[i]]),
            }
            for i in range(n)
        ]

    def query_near(self, x: np.ndarray) -> np.ndarray:
        """A perturbed data point, so true neighbours exist."""
        return _unit(x + self.rng.normal(size=self.dim) * (0.1 / np.sqrt(self.dim)))


# Filter templates: (filter-language text, the same predicate in Python).
FILTERS = (
    ("lang == '{lang}'", lambda m, p: m["lang"] == p["lang"]),
    ("score >= {lo}", lambda m, p: m["score"] >= p["lo"]),
    ("lang == '{lang}' OR score < {hi}",
     lambda m, p: m["lang"] == p["lang"] or m["score"] < p["hi"]),
    ("score >= {lo} AND score < {hi}",
     lambda m, p: p["lo"] <= m["score"] < p["hi"]),
)


@dataclass(frozen=True)
class Filter:
    text: str
    template: int
    params: tuple

    def matches(self, meta: dict) -> bool:
        return FILTERS[self.template][1](meta, dict(self.params))


def random_filter(rng: np.random.Generator) -> Filter:
    t = int(rng.integers(0, len(FILTERS)))
    lo = round(float(rng.uniform(0.1, 0.5)), 2)
    params = {
        "lang": LANGS[int(rng.integers(0, 3))],
        "lo": lo,
        "hi": round(lo + float(rng.uniform(0.3, 0.5)), 2),
    }
    return Filter(FILTERS[t][0].format(**params), t, tuple(sorted(params.items())))


def seq_dot(a: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot product summed left to right over the dimensions, the
    order Spark's ``aggregate`` fold uses, so distances agree to ~1 ulp."""
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * q[j]
    return acc


def seq_dot_rows(a: np.ndarray) -> np.ndarray:
    """Each row's dot product with itself, in ``seq_dot``'s order."""
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * a[:, j]
    return acc


def cosine_distance(x: np.ndarray, norms: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Angular distance acos(cos)/pi, the engine's cosine metric."""
    qn = np.sqrt(seq_dot(q[None, :], q)[0])
    cos = np.clip(seq_dot(x, q) / (norms * qn), -1.0, 1.0)
    return np.arccos(cos) / np.pi


class Shadow:
    """id -> (vector, metadata) for a collection, mirrored in NumPy arrays
    so brute-force top-k over the live rows is cheap."""

    def __init__(self, ids, vectors: np.ndarray, metas: list[dict], capacity: int):
        """``capacity`` rows are preallocated for every id ever stored."""
        n, dim = vectors.shape
        self.x = np.zeros((capacity, dim))
        self.norms = np.ones(capacity)
        self.ids = np.full(capacity, -1, dtype=np.int64)
        self.live = np.zeros(capacity, dtype=bool)
        self.meta: list[dict | None] = [None] * capacity
        self.x[:n] = vectors
        self.norms[:n] = np.sqrt(seq_dot_rows(vectors))
        self.ids[:n] = list(ids)
        self.live[:n] = True
        self.meta[:n] = metas
        self.row: dict[int, int] = {int(i): r for r, i in enumerate(ids)}
        self.n = n

    def put(self, doc_id: int, vec: np.ndarray, meta: dict) -> None:
        r = self.row.get(doc_id)
        if r is None:
            if self.n == len(self.ids):
                raise IndexError(f"shadow full at {self.n} ids")
            r = self.n
            self.n += 1
            self.row[doc_id] = r
            self.ids[r] = doc_id
        self.x[r] = vec
        self.norms[r] = np.sqrt(seq_dot_rows(self.x[r:r + 1])[0])
        self.meta[r] = meta
        self.live[r] = True

    def set_meta(self, doc_id: int, meta: dict) -> None:
        self.meta[self.row[doc_id]] = meta

    def remove(self, doc_id: int) -> None:
        self.live[self.row[doc_id]] = False

    def get(self, doc_id: int):
        r = self.row.get(doc_id)
        if r is None or not self.live[r]:
            return None
        return self.x[r], self.meta[r]

    def live_ids(self) -> np.ndarray:
        return self.ids[: self.n][self.live[: self.n]]

    def count(self) -> int:
        return int(self.live[: self.n].sum())

    def logical_bytes(self) -> int:
        """Bytes a user stored: id + float64 vector + metadata JSON."""
        return sum(
            doc_bytes(self.x.shape[1], self.meta[r])
            for r in np.nonzero(self.live[: self.n])[0]
        )

    def topk(self, q: np.ndarray, k: int, flt: Filter | None = None):
        """Exact top-k [(id, distance)] ordered by (distance, id)."""
        rows = np.nonzero(self.live[: self.n])[0]
        if flt is not None:
            rows = np.array([r for r in rows if flt.matches(self.meta[r])], dtype=np.int64)
        d = cosine_distance(self.x[rows], self.norms[rows], q)
        order = np.lexsort((self.ids[rows], d))[:k]
        return [(int(self.ids[rows[i]]), float(d[i])) for i in order]

    def distance(self, doc_id: int, q: np.ndarray) -> float:
        r = self.row[doc_id]
        return float(cosine_distance(self.x[r:r + 1], self.norms[r:r + 1], q)[0])


def doc_bytes(dim: int, meta: dict) -> int:
    return 8 + 8 * dim + len(json.dumps(meta).encode())


# ---------------------------------------------------------------- crawl

STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
BOILERPLATE = (
    "subscribe to our newsletter for weekly updates and offers",
    "all rights reserved by the publisher of this website",
    "click here to read the full terms of service agreement",
    "share this story with your friends on social networks",
    "cookies help us deliver our services to every reader",
)


@dataclass
class WaveTruth:
    docs: int = 0
    quality_fail: int = 0
    repeats: int = 0
    text_bytes: int = 0
    accepted_bytes: int = 0

    @property
    def quality_pass(self) -> int:
        return self.docs - self.quality_fail

    @property
    def accepted(self) -> int:
        return self.quality_pass - self.repeats


class CrawlGen:
    """WET waves with planted Gopher failures (15%), exact repeats of
    earlier accepted documents (25%) and shared boilerplate lines (~30%).

    Every passing document has >= 60 alphabetic words in 12-word lines and
    four distinct Gopher stopwords, so the quality gate accepts it for
    sure; every planted failure breaks one rule by a wide margin. Unique
    lines never repeat, so the line cut never empties a document."""

    def __init__(self, rng: np.random.Generator, docs_per_wave: int):
        self.rng = rng
        self.docs_per_wave = docs_per_wave
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = {
            "".join(rng.choice(letters, int(rng.integers(3, 10))))
            for _ in range(4000)
        }
        self.vocab = np.array(sorted(vocab - set(STOPWORDS)))
        self.accepted: list[str] = []  # raw text of every accepted doc so far
        self.wave = 0

    def _words(self, n: int) -> list[str]:
        return self.vocab[self.rng.integers(0, len(self.vocab), n)].tolist()

    def _good_text(self) -> str:
        words = self._words(int(self.rng.integers(60, 120)))
        for i, s in enumerate(self.rng.choice(STOPWORDS, 4, replace=False)):
            words[i * 11] = str(s)
        lines = [" ".join(words[i:i + 12]) for i in range(0, len(words), 12)]
        if self.rng.random() < 0.3:
            pos = int(self.rng.integers(0, len(lines) + 1))
            lines.insert(pos, BOILERPLATE[int(self.rng.integers(0, len(BOILERPLATE)))])
        return "\n".join(lines)

    def _bad_text(self, kind: int) -> str:
        if kind == 0:  # too short: < 50 words
            words = self._words(20)
            words[0], words[5] = "the", "and"
        elif kind == 1:  # no stopwords at all
            words = self._words(80)
        else:  # '#' on every word: symbol ratio 1.0 > 0.1
            words = ["#" + w for w in self._words(70)]
            words[0], words[5] = "the", "and"
        return "\n".join(" ".join(words[i:i + 12]) for i in range(0, len(words), 12))

    def next_wave(self) -> tuple[list[tuple[str, str]], WaveTruth]:
        """One wave: exactly 15% planted failures and 25% repeats, in seeded
        positions, the rest fresh documents."""
        self.wave += 1
        n = self.docs_per_wave
        roles = np.array(["fail"] * round(0.15 * n) + ["repeat"] * round(0.25 * n))
        roles = self.rng.permutation(np.concatenate([roles, ["fresh"] * (n - len(roles))]))
        # The bootstrap wave self-dedups, later waves dedup against the
        # stores only: so repeats come from earlier waves when there are
        # any, and from earlier in this wave on the bootstrap, whose first
        # repeat must then follow a fresh document.
        pool = self.accepted
        if not pool:
            first_rep = int(np.argmax(roles == "repeat"))
            first_new = int(np.argmax(roles == "fresh"))
            if first_rep < first_new:
                roles[[first_rep, first_new]] = roles[[first_new, first_rep]]
        truth = WaveTruth()
        docs = []
        fresh = []
        for d, role in enumerate(roles):
            if role == "fail":
                text = self._bad_text(d % 3)
                truth.quality_fail += 1
            elif role == "repeat":
                src = pool or fresh
                text = src[int(self.rng.integers(0, len(src)))]
                truth.repeats += 1
            else:
                text = self._good_text()
                fresh.append(text)
                truth.accepted_bytes += len(text.encode())
            truth.docs += 1
            truth.text_bytes += len(text.encode())
            docs.append((f"http://w{self.wave}.example/{d}", text))
        self.accepted.extend(fresh)
        return docs, truth


def write_wet(path: str, docs: list[tuple[str, str]]) -> None:
    """One WET segment of conversion records."""
    with open(path, "wb") as f:
        for uri, text in docs:
            body = text.encode()
            f.write(
                b"WARC/1.0\r\nWARC-Type: conversion\r\n"
                + b"WARC-Target-URI: " + uri.encode() + b"\r\n"
                + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
                + body + b"\r\n\r\n"
            )
