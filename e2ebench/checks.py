"""Output checks, percentile rules and the byte-accounting the metrics use.

Each ``check_*`` function returns an error string, or None when the answer
is right. A wrong answer counts as a failed op.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

TOL = 1e-9


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in (0, 100]) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


# a p90 is reported only from at least this many samples; a p50 always,
# with its sample count
P90_MIN_SAMPLES = 100


# ------------------------------------------------------------- collection


def _meta(m):
    return json.loads(m) if isinstance(m, str) else m


def check_topk(got, expected, shadow_meta=None) -> str | None:
    """``got``: [(id, distance, metadata)] from an exact search; ``expected``:
    [(id, distance)] from brute force. Ids must match in order, except
    that rows whose distances tie within TOL may swap; distances must
    agree within TOL; metadata, when given, must equal the shadow's."""
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    for pos, ((gid, gd, gm), (eid, ed)) in enumerate(zip(got, expected)):
        if abs(gd - ed) > TOL:
            return f"rank {pos} distance {gd!r} != {ed!r}"
        if gid != eid and not any(
            i == gid and abs(d - ed) <= TOL for i, d in expected
        ):
            return f"rank {pos} id {gid} != {eid}"
        if shadow_meta is not None and _meta(gm) != shadow_meta(gid):
            return f"id {gid} metadata differs"
    return None


def check_ann(got, k: int, true_dist, passes, shadow_meta=None) -> str | None:
    """An approximate answer need not be the true top-k, but every row it
    returns must be a live document that passes the filter, carry its
    true distance, and come in ascending distance order."""
    if len(got) > k:
        return f"{len(got)} rows > k={k}"
    prev = -1.0
    for gid, gd, gm in got:
        if not passes(gid):
            return f"id {gid} is not live or fails the filter"
        if abs(gd - true_dist(gid)) > TOL:
            return f"id {gid} distance {gd!r} != {true_dist(gid)!r}"
        if gd < prev - TOL:
            return "rows not in ascending distance order"
        if shadow_meta is not None and _meta(gm) != shadow_meta(gid):
            return f"id {gid} metadata differs"
        prev = gd
    return None


def recall(got_ids, true_ids) -> float:
    return len(set(got_ids) & set(true_ids)) / max(1, len(true_ids))


def check_get(row, expected) -> str | None:
    """``row``: (vector, metadata) or None; ``expected``: the shadow's."""
    if expected is None:
        return None if row is None else "removed id still returned"
    if row is None:
        return "live id not found"
    vec, meta = row
    if not np.array_equal(np.asarray(vec, dtype=float), expected[0]):
        return "vector differs"
    if _meta(meta) != expected[1]:
        return "metadata differs"
    return None


def check_count(got: int, expected: int) -> str | None:
    return None if got == expected else f"{got} != {expected}"


# ------------------------------------------------------------------ crawl


def check_wave(out: dict, truth, incremental: bool) -> str | None:
    """Compare ``run_wave``'s counts with the planted truth. An incremental
    wave (one after the bootstrap, run with ``compact=True``) must also
    report its store-dedup survivors, a Bloom skip count within the fresh
    documents (the gate has no false negatives, so every repeat is probed)
    and a compaction that folded the two Bloom and Misra-Gries
    directories, the bootstrap's and this wave's, into one."""
    want = {
        "wave_docs": truth.docs,
        "quality_pass": truth.quality_pass,
        "accepted": truth.accepted,
    }
    if incremental:
        want["dedup_survivors"] = truth.accepted
    for key, val in want.items():
        if out.get(key) != val:
            return f"{key} {out.get(key)} != planted {val}"
    if not incremental:
        return None
    if not 0 <= out.get("bloom_skipped", -1) <= truth.accepted:
        return f"bloom_skipped {out.get('bloom_skipped')} not in [0, {truth.accepted}]"
    folded = out.get("compacted") or {}
    for store in ("bloom", "mg"):
        if folded.get(store) != 2:
            return f"compaction folded {folded.get(store)} {store} dirs, not 2"
    return None


# ------------------------------------------------------- byte accounting


def snapshot(*roots: str) -> dict:
    """path -> (inode, size, mtime_ns) for every file under ``roots``."""
    out = {}
    for root in roots:
        for d, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def created(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that were not in ``before``: new
    paths, or old paths whose file was replaced or rewritten."""
    files = nbytes = 0
    for p, ident in after.items():
        if before.get(p) != ident:
            files += 1
            nbytes += ident[1]
    return files, nbytes


def total_bytes(snap: dict) -> int:
    return sum(v[1] for v in snap.values())


def amplification(written: int, submitted: int, on_disk: int, live: int) -> tuple[float, float]:
    """(write_amp, space_amp): bytes written per logical byte submitted,
    and bytes on disk per logical byte live."""
    return written / submitted, on_disk / live
