"""Seeded input generators. Pure numpy + pyarrow, no Spark: the same seed
writes byte-identical parquet files (fixed file names, fixed row order),
and set-up does not depend on a running session.

WAL events carry the engine's log schema v1
(seq, op, doc_id, tokens, n_tok, source, ts). The corpus carries
(doc_id, lang, text) for the dedupe_docs operators.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
MAX_TOKENS = 24
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

WAL_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def rng_for(seed: int, tag: str) -> np.random.Generator:
    """Independent stream per (seed, tag), stable across numpy versions'
    default-seeding changes because the key is hashed here."""
    h = hashlib.sha256(f"{seed}:{tag}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def doc_key(idx: np.ndarray) -> np.ndarray:
    return np.char.add("DOC-", np.char.zfill(idx.astype(str), 8))


def events(
    rng: np.random.Generator,
    seq0: int,
    doc_idx: np.ndarray,
    source: np.ndarray,
    *,
    delete_pct: int = 10,
    dup_pct: int = 0,
) -> pa.Table:
    """One event per ``doc_idx`` entry at LSNs seq0+1.., plus ``dup_pct``%
    of them re-delivered verbatim (at-least-once delivery, same LSN)."""
    n = len(doc_idx)
    seq = np.arange(seq0 + 1, seq0 + 1 + n, dtype=np.int64)
    roll = rng.integers(0, 100, n)
    op = np.where(roll < delete_pct, "delete",
                  np.where(roll < delete_pct + 30, "insert", "update"))
    live = op != "delete"
    n_tok = rng.integers(1, MAX_TOKENS + 1, n).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    offsets[1:] = np.cumsum(np.where(live, n_tok, 0))
    values = rng.integers(0, VOCAB, int(offsets[-1])).astype(np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values), mask=pa.array(~live)
    )
    tbl = pa.table(
        {
            "seq": pa.array(seq),
            "op": pa.array(op),
            "doc_id": pa.array(doc_key(doc_idx)),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, mask=~live),
            "source": pa.array(source),
            "ts": pa.array(BASE_TS_US + seq * 1_000_000, pa.timestamp("us", tz="UTC")),
        },
        schema=WAL_SCHEMA,
    )
    if dup_pct:
        dup = np.flatnonzero(rng.integers(0, 100, n) < dup_pct)
        # re-deliveries land next to the original (a retry re-sends the
        # same page), keeping every file's seq range contiguous
        order = np.sort(np.concatenate([np.arange(n), dup]), kind="stable")
        tbl = tbl.take(pa.array(order))
    return tbl


def write_wal(tbl: pa.Table, path: str, *, files: int = 1, prefix: str = "part") -> None:
    """Write ``tbl`` as ``files`` seq-contiguous parquet segments with
    deterministic names (the engine plans from footer min/max stats)."""
    os.makedirs(path, exist_ok=True)
    n = tbl.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(tbl.slice(lo, hi - lo),
                       os.path.join(path, f"{prefix}-{i:05d}.parquet"))


def backfill_wal(seed: int, n_events: int, n_docs: int, *,
                 hot_pct: int, dup_pct: int) -> pa.Table:
    """The replay workload's WAL: ``hot_pct``% of events hit DOC-00000000,
    the rest spread uniformly over ``n_docs`` keys; 5 sources."""
    rng = rng_for(seed, "backfill")
    hot = rng.integers(0, 100, n_events) < hot_pct
    doc = np.where(hot, 0, rng.integers(0, n_docs, n_events))
    src = np.char.add("src", (rng.integers(0, 5, n_events)).astype(str))
    return events(rng, 0, doc, src, dup_pct=dup_pct)


def shard_of(doc_idx: np.ndarray, n_shards: int) -> np.ndarray:
    return np.char.add("s", np.char.zfill((doc_idx % n_shards).astype(str), 3))


def sharded_load(seed: int, n_docs: int, n_shards: int) -> pa.Table:
    """One insert per document: the pre-loaded table of the tail workload.
    A document's packing shard (``source``) is a fixed function of its
    key, so an event never moves a document between shards."""
    rng = rng_for(seed, "load")
    doc = np.arange(n_docs)
    return events(rng, 0, doc, shard_of(doc, n_shards), delete_pct=0)


def sharded_segments(seed: int, seq0: int, n_docs: int, n_shards: int, *,
                     segments: int, seg_events: int,
                     shards_per_segment: int) -> list[pa.Table]:
    """Tail segments: each touches ``shards_per_segment`` packing shards,
    so a refresh re-packs a few shards, not the corpus."""
    rng = rng_for(seed, "segments")
    per_shard = n_docs // n_shards
    out, seq = [], seq0
    for _ in range(segments):
        shards = rng.choice(n_shards, shards_per_segment, replace=False)
        doc = (rng.choice(shards, seg_events)
               + n_shards * rng.integers(0, per_shard, seg_events))
        t = events(rng, seq, doc, shard_of(doc, n_shards))
        seq += seg_events
        out.append(t)
    return out


# ---------------------------------------------------------------- corpus

LANGS = np.array(["en", "es", "de", "fr", "zh"])
WORDS = 20_000
BOILERPLATE = "this page was generated automatically".split()


def _word(i: int) -> str:
    return f"w{i}"


def corpus(seed: int, n_base: int, *, words_per_doc: int, zipf_a: float,
           zipf_pct: int, boiler_pct: int, clusters: int, cluster_size: int,
           edits: int) -> tuple[pa.Table, list[list[int]]]:
    """Documents whose words are ``zipf_pct``% Zipf-distributed (so common
    word 3-grams are heavy join keys) and otherwise uniform (so SimHash
    still separates unrelated documents), a stock boilerplate header on
    ``boiler_pct``% of documents (one very heavy shingle set), and
    ``clusters`` planted
    near-duplicate groups: a base document plus ``cluster_size - 1``
    copies with ``edits`` word substitutions each (copy 1 is an exact
    duplicate). Returns (table, [doc ids of each cluster])."""
    rng = rng_for(seed, "corpus")
    ranks = np.where(
        rng.integers(0, 100, (n_base, words_per_doc)) < zipf_pct,
        np.minimum(rng.zipf(zipf_a, (n_base, words_per_doc)), WORDS) - 1,
        rng.integers(0, WORDS, (n_base, words_per_doc)),
    )
    texts: list[list[str]] = []
    for i in range(n_base):
        words = [_word(r) for r in ranks[i]]
        if rng.integers(0, 100) < boiler_pct:
            words = BOILERPLATE + words[len(BOILERPLATE):]
        texts.append(words)
    lang = LANGS[rng.integers(0, len(LANGS), n_base)].tolist()
    groups: list[list[int]] = []
    base_ids = rng.choice(n_base, clusters, replace=False)
    for b in base_ids:
        g = [int(b)]
        for c in range(1, cluster_size):
            words = list(texts[b])
            if c > 1:
                pos = rng.choice(words_per_doc, edits, replace=False)
                for p in pos:
                    # fresh words outside the Zipf range: every edit
                    # breaks up to three shingles
                    words[p] = f"x{seed % 997}_{len(texts)}_{p}"
            g.append(len(texts))
            texts.append(words)
            lang.append(lang[b])
        groups.append(g)
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "lang": pa.array(lang),
            "text": pa.array([" ".join(w) for w in texts]),
        }
    )
    return tbl, groups
