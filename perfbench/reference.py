"""Independent single-process references for the dedup workload's output
check: exact n-gram Jaccard pairs, the MinHash-LSH candidate rule, and
the native SimHash (Spark's xxhash64, re-implemented here). None of this
touches Spark, so a wrong answer from the engine cannot also be the
expected answer."""

from __future__ import annotations

import hashlib
import itertools
import struct
from collections import defaultdict

import numpy as np

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(acc: int, v: int) -> int:
    return ((acc ^ _round(0, v)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 as a signed 64-bit value — Spark's ``xxhash64`` of a string
    column (default seed 42) hashes its UTF-8 bytes with this function."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], struct.unpack_from("<Q", data, i + 8 * j)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = _merge(h, x)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def shingles(text: str, n: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def ngram_pairs(ids: list[int], blocks: list[str], texts: list[str],
                threshold: float) -> set[tuple[int, int]]:
    """All (doc1 < doc2) pairs in the same block with exact word-3-gram
    Jaccard >= threshold, via an inverted index over shingles."""
    sets = [shingles(t) for t in texts]
    common: dict[tuple[int, int], int] = defaultdict(int)
    postings: dict[tuple[str, str], list[int]] = defaultdict(list)
    for i, (b, s) in enumerate(zip(blocks, sets)):
        for sh in s:
            postings[(b, sh)].append(i)
    for docs in postings.values():
        for x, y in itertools.combinations(docs, 2):
            common[(x, y)] += 1
    out = set()
    for (x, y), c in common.items():
        if c / (len(sets[x]) + len(sets[y]) - c) >= threshold:
            out.add((min(ids[x], ids[y]), max(ids[x], ids[y])))
    return out


def minhash_bands(text: str, k: int = 8, bands: int = 4) -> list[str]:
    """dedupe_docs.minhash_signatures + band_keys: stream i's value is the
    least md5 hex digest of ``f"{i}:{shingle}"``; a band key joins the
    band's ``k // bands`` values with ``|``."""
    sh = shingles(text)
    mh = [min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh) for i in range(k)]
    rows = k // bands
    return ["|".join(mh[b * rows:(b + 1) * rows]) for b in range(bands)]


def lsh_verified(pairs: set[tuple[int, int]], text_of: dict[int, str]) -> set:
    """The subset of exact pairs that LSH banding proposes as candidates
    (lsh_verified_pairs verifies candidates with the same exact Jaccard,
    so its output is exactly this subset)."""
    docs = {d for p in pairs for d in p}
    bands = {d: minhash_bands(text_of[d]) for d in docs}
    return {(a, b) for a, b in pairs
            if any(x == y for x, y in zip(bands[a], bands[b]))}


def simhash_native(texts: list[str]) -> np.ndarray:
    """dedupe_docs.simhash64_native: bit b is set when more than half of
    the document's whitespace tokens have bit b set in their xxhash64."""
    cache: dict[str, int] = {}
    out = np.zeros(len(texts), dtype=np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    for i, t in enumerate(texts):
        toks = [w for w in t.strip().split() if w]
        if not toks:
            out[i] = np.uint64(1 << 63)
            continue
        hs = np.array([cache.setdefault(w, xxh64(w.encode())) & _M for w in toks],
                      dtype=np.uint64)
        ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
        bits = (2 * ones > len(toks)).astype(np.uint64)
        out[i] = np.bitwise_or.reduce(bits << shifts)
    return out


def simhash_pairs(ids: list[int], sims: np.ndarray, max_hamming: int) -> set:
    """simhash_chunk_pairs without a chunk cap: pairs that share a 16-bit
    chunk (same index, same value) and differ in <= max_hamming bits."""
    groups: dict[tuple[int, int], list[int]] = defaultdict(list)
    for i, s in enumerate(sims.tolist()):
        for c in range(4):
            groups[(c, (s >> (16 * c)) & 0xFFFF)].append(i)
    out = set()
    for docs in groups.values():
        for x, y in itertools.combinations(docs, 2):
            if bin(int(sims[x]) ^ int(sims[y])).count("1") <= max_hamming:
                out.add((min(ids[x], ids[y]), max(ids[x], ids[y])))
    return out
