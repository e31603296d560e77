"""Cuckoo-filter seen-set: the cuckoo layout of the Bloom/cuckoo URL-seen set.

:class:`CuckooSpec` is a filter layout for
:mod:`spider_spark.operators.dedup`'s filter path (the same
per-``host_bucket`` admission cogroup and fold as
:class:`~spider_spark.operators.dedup.BloomSpec`). A cuckoo filter
(Fan et al., CoNEXT'14 — public algorithm) stores 16-bit fingerprints
in 4-slot buckets and beats Bloom on space below ~3% FPR.

Layout: ``m`` buckets x 4 slots x uint16, as raw little-endian bytes.
Slot value 0 = empty (fingerprints are forced nonzero). Candidate
lookup is fully vectorized (two gathers + compare). Insert is a Python
loop over the items: each takes the first free slot of its two
buckets, and only an item whose two buckets are full starts an
eviction chain (rare below ~90% load).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .dedup import _hex_u64

SLOTS = 4
MAX_KICKS = 500


class CuckooSpec:
    def __init__(self, capacity: int = 1_000_000):
        # 4 slots/bucket at <=95% load; round buckets to a power of two
        n_buckets = int(np.ceil(capacity / (SLOTS * 0.95)))
        self.m = 1 << int(np.ceil(np.log2(max(n_buckets, 2))))

    def empty(self) -> bytes:
        return bytes(self.m * SLOTS * 2)

    def contains(self, filter_bytes: bytes, fingerprints: pd.Series) -> np.ndarray:
        return cuckoo_contains(filter_bytes, fingerprints, self)

    def insert(self, filter_bytes: bytes, fingerprints: pd.Series) -> bytes:
        return cuckoo_insert(filter_bytes, fingerprints, self)


def _parts(fingerprints: pd.Series, m: int):
    """(tag, i1, i2) arrays from hex fingerprints (sha1 or md5).

    tag: 16 nonzero bits from hex[32:36] (sha1) or hex[16:20] (md5 —
    still disjoint from the i1 bits at hex[:16]); i1: bits from
    hex[:16]; i2 = i1 ^ hash(tag) — partial-key cuckoo displacement.
    Raises ValueError on fingerprints too short to carry both fields.
    """
    fps = list(fingerprints)
    if fps and len(fps[0]) < 20:
        raise ValueError(
            "cuckoo fingerprints must be >=20 hex chars (sha1/md5 hex); "
            f"got length {len(fps[0])}"
        )
    lo = 32 if (fps and len(fps[0]) >= 36) else 16
    tag = _hex_u64(fps, lo, 4)
    tag = np.where(tag == 0, np.uint64(1), tag).astype(np.uint64)
    h1 = _hex_u64(fps, 0)
    i1 = (h1 % np.uint64(m)).astype(np.int64)
    # tag-hash via the 64-bit FNV-ish mix used by the reference paper's
    # "i2 = i1 xor hash(tag)" construction
    th = (tag * np.uint64(0x5BD1E995)) % np.uint64(m)
    i2 = (i1 ^ th.astype(np.int64)) % m
    return tag.astype(np.uint16), i1, i2


def _table(filter_bytes: bytes, m: int) -> np.ndarray:
    return np.frombuffer(filter_bytes, dtype=np.uint16).reshape(m, SLOTS)


def cuckoo_contains(filter_bytes: bytes, fingerprints: pd.Series, spec: CuckooSpec) -> np.ndarray:
    if len(fingerprints) == 0:
        return np.zeros(0, dtype=bool)
    t = _table(filter_bytes, spec.m)
    tag, i1, i2 = _parts(fingerprints, spec.m)
    in1 = (t[i1] == tag[:, None]).any(axis=1)
    in2 = (t[i2] == tag[:, None]).any(axis=1)
    return in1 | in2


def cuckoo_insert(filter_bytes: bytes, fingerprints: pd.Series, spec: CuckooSpec) -> bytes:
    """Insert all fingerprints; returns updated bytes. Raises on a full
    table (caller sizes capacity for the bucket's share of the crawl)."""
    t = _table(filter_bytes, spec.m).copy()
    if len(fingerprints) == 0:
        return t.tobytes()
    tag, i1, i2 = _parts(fingerprints, spec.m)
    rng_state = 0x9E3779B9
    for k in range(len(tag)):
        tg, a, b = int(tag[k]), int(i1[k]), int(i2[k])
        placed = False
        for idx in (a, b):
            row = t[idx]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = tg
                placed = True
                break
        if placed:
            continue
        # eviction chain (deterministic "random" slot from a counter)
        idx = a
        for _ in range(MAX_KICKS):
            rng_state = (rng_state * 1103515245 + 12345) & 0x7FFFFFFF
            slot = rng_state % SLOTS
            tg, t[idx, slot] = int(t[idx, slot]), tg
            th = (np.uint64(tg) * np.uint64(0x5BD1E995)) % np.uint64(spec.m)
            idx = (idx ^ int(th)) % spec.m
            row = t[idx]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = tg
                break
        else:
            raise RuntimeError("cuckoo filter full; raise capacity for this bucket")
    return t.tobytes()
