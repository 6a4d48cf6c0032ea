"""Document deduplication family for training-data pipelines:

  exact          — hash-group on normalized text, keep min doc_id
  ngram_jaccard  — exact word-3-gram Jaccard over blocked candidate pairs
  minhash_lsh    — MinHash signatures + banded LSH candidate pairs;
                   portable hash family: minhash_i = lexicographic
                   min(md5(i || ':' || shingle)) so the same computation is
                   expressible in DuckDB for the oracle
  simhash        — 64-bit SimHash via a vectorized Arrow UDF (Spark-only)

Scale notes: exact dedup and minhash are linear + one shuffle each
(groupBy doc / groupBy band key). The pairwise-verify joins are bounded by
LSH bucket sizes, not O(n²); ngram_jaccard's shingle self-join is the
small-scale/oracle path — at 100 TB only the LSH path runs, with skewed
common-shingle keys excluded via a document-frequency cap.

Shared steps, one copy each: ``_hashed_shingle_sets`` derives the hashed
shingle set of every doc (n-gram Jaccard, LSH-verified, and
``sigindex.dedup_gated_ingest``); ``_jaccard_verify`` is the exact Jaccard
over candidate pairs (LSH-verified and gated ingest); the hot band and
chunk caps are ``ann.cap_hot_groups``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .ann import _cap_row_count, cap_hot_groups, default_bucket_cap
from .session import materialize, release, spread_scan

MINHASH_K = 8  # hash streams
LSH_BANDS = 4  # → rows per band = K / BANDS = 2
SHINGLE_N = 3


def _shingle_array(text_col, n: int = SHINGLE_N):
    """array<string> of the DISTINCT word n-grams of a text column:
    deriving the set as ONE array expression lets single-pass consumers
    (minhash, the jaccard paths) avoid an explode→distinct→re-aggregate
    shuffle cycle entirely (guide §2.4)."""
    words = F.split(F.trim(text_col), "\\s+")
    # guard: Spark's sequence(1, 0) is DESCENDING [1,0]; docs shorter than
    # the shingle width must yield an empty shingle set instead
    sh = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def _hashed_shingle_sets(src: DataFrame, text_col: str) -> DataFrame:
    """``src`` with its ``text_col`` replaced by ``_h: array<bigint>``, the
    xxhash64 image of the row's distinct shingle set, re-deduped after
    hashing so set sizes and set intersections over ``_h`` equal those
    over the string sets (modulo 64-bit collisions, ~2^-64 per cross-doc
    comparison). The jaccard paths compare ONLY equality of shingles, so
    8-byte hashes shuffle and compare instead of ~25-byte strings (guide
    §2.3 "shuffle keys and metadata instead of payloads").

    ``src`` is the caller's narrow projection (the key columns plus the
    text): a corpus-sized caller spreads it first (``spread_scan``) so
    few-file corpora do not derive on 1-4 scan tasks."""
    keep = [c for c in src.columns if c != text_col]
    return src.select(
        *keep,
        F.array_distinct(
            F.transform(_shingle_array(F.col(text_col)), lambda s: F.xxhash64(s))
        ).alias("_h"),
    )


def _jaccard_verify(
    pairs: DataFrame,
    sets1: DataFrame,
    sets2: DataFrame,
    threshold: float,
    *,
    id1: str = "doc1",
    id2: str = "doc2",
) -> DataFrame:
    """(id1, id2, jaccard) for every candidate pair whose exact shingle
    Jaccard is ≥ ``threshold``: each side's hashed shingle SET
    (``_hashed_shingle_sets``, keyed ``doc_id``; one array row per doc,
    no explode) attaches to ``pairs`` by an equi-join, and ``n_common =
    size(array_intersect(h1, h2))`` is computed per pair. A pair with an
    empty intersection (or an unshingleable side) yields jaccard 0/NULL
    and is dropped; the ``n_common > 0`` guard keeps it out even at
    threshold <= 0, as an inner intersection join of exploded shingles
    would."""
    j = pairs.join(
        sets1.select(F.col("doc_id").alias(id1), F.col("_h").alias("_h1")), id1
    ).join(sets2.select(F.col("doc_id").alias(id2), F.col("_h").alias("_h2")), id2)
    n_common = F.size(F.array_intersect("_h1", "_h2")).cast("long")
    n1 = F.size("_h1").cast("long")
    n2 = F.size("_h2").cast("long")
    return (
        j.where(n_common > 0)
        .select(id1, id2, (n_common / (n1 + n2 - n_common)).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def exact_dedupe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per distinct normalized text: canonical (min) doc_id + the
    duplicate count. Hash aggregation — partial agg collapses dup groups
    map-side."""
    norm = F.lower(F.regexp_replace(F.col(text_col), "\\s+", " "))
    return (
        df.select(F.col("doc_id"), norm.alias("norm_text"))
        .groupBy("norm_text")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_dups"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.6,
    block_col: str = "lang",
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs with exact n-gram Jaccard ≥ threshold,
    blocked on ``block_col`` to bound the self-join.

    ``df_cap``: drop shingles occurring in more than ``df_cap`` documents
    (within a block) BEFORE the self-join — the skew guard for corpora
    where a stock phrase appears in every document and would explode the
    join to O(n²) on that key. The cap is applied consistently to both
    the per-doc shingle counts and the intersection, so the result is the
    exact Jaccard over the capped shingle sets. For the 100 TB path
    prefer lsh_verified_pairs (candidates bounded by LSH bands).

    Plan shape (r6): shingles travel as 8-byte xxhash64 values, derived
    ONCE per doc as an array (no explode→distinct shuffle, no doc_id
    join for the block column), with each doc's set size carried through
    the explode so the two counts joins of the old formulation fold into
    the pair aggregation's grouping keys. The self-join shuffles narrow
    (doc, hash, count) rows whose one exchange is computed once and read
    by both sides (ReuseExchange), where the string formulation shuffled
    exploded shingle strings and re-derived the shingle set four times
    (counts + both join sides). Results are identical modulo 64-bit hash
    collisions (~2^-64 per cross-doc comparison). ``df`` is expected to
    carry one row per doc_id (true of every corpus table here);
    pre-dedupe rows otherwise."""
    sets = _hashed_shingle_sets(
        spread_scan(df.select("doc_id", block_col, text_col)), text_col
    )
    if df_cap is not None:
        # capped mode: per-doc counts must reflect the POST-cap shingle
        # sets, so counts are re-aggregated after the frequency filter
        sh = sets.select("doc_id", block_col, F.explode("_h").alias("sh_h"))
        freq = sh.groupBy("sh_h", block_col).agg(F.count("*").alias("_df"))
        sh = sh.join(
            freq.where(F.col("_df") <= df_cap).select("sh_h", block_col),
            ["sh_h", block_col],
        )
        counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        sh = sh.join(counts, "doc_id")
    else:
        sh = sets.select(
            "doc_id",
            block_col,
            F.size("_h").cast("long").alias("n_sh"),
            F.explode("_h").alias("sh_h"),
        )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc1"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.select(
            "doc1",
            "doc2",
            (
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(df: DataFrame, *, k: int = MINHASH_K, text_col: str = "text") -> DataFrame:
    """(doc_id, mh_0 … mh_{k-1}): per-document MinHash over k md5-derived
    streams, computed as k min-aggregates in ONE pass over the exploded
    per-row shingle set (no k-fold explode through the shuffle — at
    100 TB the explode variant moves k x the data for the same answer).

    r6 plan shape: the former explode → DISTINCT → groupBy pipeline paid
    an extra full exchange of (doc_id, shingle) strings purely to dedup
    before the min-aggregate — but min over a multiset equals min over
    the set, and the per-row shingle array is already distinct, so the
    explode feeds the partial min-aggregate directly (one exchange
    total, of 8 partial minima per doc). The narrow (doc_id, text)
    projection is spread to full parallelism first (session.spread_scan):
    a few-file corpus otherwise runs the md5 streams on 1-4 scan tasks."""
    src = spread_scan(df.select("doc_id", F.col(text_col).alias("_t")))
    sh = src.select("doc_id", F.explode(_shingle_array(F.col("_t"))).alias("shingle"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i)), F.lit(":"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_keys(sig: DataFrame, *, k: int = MINHASH_K, bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, band, band_key) rows from a signature frame (``mh_0`` …
    ``mh_{k-1}``): the band key concatenates the band's minhashes. Shared
    by the recompute path (minhash_lsh_pairs) and the persistent
    SignatureIndex so both derive identical candidates."""
    rows = k // bands
    band_cols = [
        F.concat_ws("|", *[F.col(f"mh_{b * rows + j}") for j in range(rows)]).alias(f"band_{b}")
        for b in range(bands)
    ]
    keyed = sig.select("doc_id", *band_cols)
    return keyed.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias("band", "band_key"),
    )


def cap_hot_bands(banded: DataFrame, max_band: int) -> DataFrame:
    """Hot-band skew guard: ``ann.cap_hot_groups`` over the (band,
    band_key) groups of a banded frame. ``max_band <= 0`` is a no-op."""
    return cap_hot_groups(banded, ["band", "band_key"], "doc_id", max_band)


def banded_pairs(banded: DataFrame) -> DataFrame:
    """Distinct (doc1 < doc2) pairs sharing at least one (band, band_key)."""
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc1"), F.col("y.doc_id").alias("doc2"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    text_col: str = "text",
    max_band: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs sharing at least one LSH band. The band key
    concatenates the band's minhashes — docs agreeing on a whole band are
    likely near-duplicates (verify with ngram_jaccard_pairs).

    ``max_band`` is the hot-band skew guard (same discipline as the
    simhash/embedding caps, DEFAULT ON): band-key cardinality is
    effectively unbounded (128-bit concat), so uniform corpora put ~1 doc
    per band key and ONLY a mass-duplicate cluster (b near-identical docs
    → one band key → O(b²) pair join) can blow up. ``None`` caps such
    groups at 512 members via deterministic downsampling — no row-count
    probe needed because the uniform expectation is ~1 regardless of
    corpus size; exact dedup is the intended first pass for identical
    mass anyway. ``0`` disables (oracle/exactness mode)."""
    if max_band is None:
        max_band = 512
    sig = minhash_signatures(df, k=k, text_col=text_col)
    return banded_pairs(cap_hot_bands(band_keys(sig, k=k, bands=bands), max_band))


def lsh_verified_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.6,
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_band: int | None = None,
) -> DataFrame:
    """The 100 TB near-dup path: LSH band candidates → exact Jaccard
    verification computed ONLY on candidate pairs. The shingle self-join of
    ngram_jaccard_pairs touches O(sum over shingles of df²) rows; here the
    intersection join is restricted to the candidate pair set, which LSH
    banding bounds regardless of corpus-wide shingle frequencies.
    ``max_band`` passes through to the candidate stage's hot-band guard.

    Plan shape (r6): verification is ``_jaccard_verify`` — each doc's
    hashed shingle SET joins the candidate pairs and the intersection is
    an array op per pair. The exploded-shingle intersection join
    re-derived the shingle rows three more times and shuffled them into
    two sort-merge joins; here the per-doc set is derived once per join
    side and only candidate-pair rows carry arrays through the final
    projection."""
    cand = minhash_lsh_pairs(df, k=k, bands=bands, text_col=text_col, max_band=max_band)
    h = _hashed_shingle_sets(
        spread_scan(df.select("doc_id", F.col(text_col).alias("_t"))), "_t"
    )
    return _jaccard_verify(cand, h, h, threshold)


def simhash64_native(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, sim): 64-bit SimHash computed ENTIRELY in native
    expressions — the 100 TB path. Tokens via ``split``+``explode``,
    per-token ``xxhash64``, and the per-bit vote LANE-PACKED: each of 32
    longs carries two 32-bit lanes of 0/1-bit counts, so the hot
    aggregation updates 33 buffers per token instead of 65 (bit b set
    iff 2*ones_b > n — identical output to the ±1-sum formulation,
    pinned by test against an independent Python bit-vote). A 32-bit
    lane cannot overflow: lane sums are bounded by a doc's token count,
    and a 2 GB string (Spark's cap) splits into < 2^31 tokens. Partial-
    aggregated map-side, one shuffle on doc_id; the sign bits pack into
    a signed int64 from two 32-bit halves (shift-OR — shifts are not
    overflow-checked, so the plan also survives a foreign ANSI-on
    session). No Python touches a row; the whole pipeline stays inside
    whole-stage codegen (pinned in tests/test_plans.py).

    Same structure as the md5 ``simhash64`` pandas UDF but a different
    hash family — sim values are NOT comparable across the two. Null text
    → null sim; token-less text → all-zero votes → -2^63, matching the
    md5 family's conventions. The narrow (doc_id, text) projection is
    spread to full parallelism first (session.spread_scan) so the
    token-hash bit-vote partial aggregation does not run on a handful of
    scan tasks over a few-file corpus."""
    src = spread_scan(df.select("doc_id", F.col(text_col).alias("_t")))
    toks = src.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("_t")), "\\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    h = toks.select("doc_id", F.xxhash64("tok").alias("h"))
    packs = [
        (
            F.shiftright(F.col("h"), 2 * k).bitwiseAND(F.lit(1)).cast("long")
            + F.shiftleft(
                F.shiftright(F.col("h"), 2 * k + 1).bitwiseAND(F.lit(1)).cast("long"),
                32,
            )
        ).alias(f"p{k}")
        for k in range(32)
    ]
    votes = h.select("doc_id", *packs).groupBy("doc_id").agg(
        F.count("*").alias("n"), *[F.sum(f"p{k}").alias(f"p{k}") for k in range(32)]
    )

    def bit(b):
        k, j = divmod(b, 2)
        ones = F.shiftright(F.col(f"p{k}"), 32 * j).bitwiseAND(F.lit(0xFFFFFFFF))
        return F.when(ones * 2 > F.col("n"), F.lit(1)).otherwise(F.lit(0)).cast("long")
    lo = sum((F.shiftleft(bit(b), b) for b in range(1, 32)), F.shiftleft(bit(0), 0))
    hi = sum((F.shiftleft(bit(b), b - 32) for b in range(33, 64)), F.shiftleft(bit(32), 0))
    packed = votes.select("doc_id", F.shiftleft(hi, 32).bitwiseOR(lo).alias("sim"))
    # mirror the md5 family's edge conventions (null text → null sim,
    # token-less text → all-zero votes → -2^63) via a UNION with the
    # cheap empty-doc slice — a predicate on the pruned (doc_id, text)
    # scan, NOT a join of the whole corpus back against itself
    empty = df.where(
        F.col(text_col).isNull() | (F.trim(F.col(text_col)) == "")
    ).select(
        "doc_id",
        F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
        .otherwise(F.lit(-(1 << 63)).cast("long"))
        .alias("sim"),
    )
    return packed.unionByName(empty)


@pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-vectorized batch;
    hashing via Python's stable md5 per token within the batch). This is
    the ORACLE-MODE hash family (md5 is replicable bit-for-bit in DuckDB
    SQL); the default scale path is ``simhash64_native``.

    r6: batch-vectorized — each UNIQUE token in the Arrow batch is
    md5-hashed ONCE (natural-language token streams are Zipfian, so the
    per-occurrence md5 of the old per-row loop redid the same hashes
    thousands of times), the 64 bit-columns are unpacked for the whole
    vocabulary in one numpy call, and per-doc ±1 votes are one slice-sum
    per doc over the occurrence->vocab index stream. Bit-identical
    arithmetic to the per-row loop (integer vote sums, same tokenizer,
    same edge conventions: null -> null, token-less -> -2^63)."""
    import hashlib

    import numpy as np

    docs = text.tolist()
    vocab: dict[str, int] = {}
    idx_stream: list[int] = []
    lengths: list[int] = []
    for s in docs:
        if s is None:
            lengths.append(-1)
            continue
        toks = s.split()
        lengths.append(len(toks))
        for t in toks:
            j = vocab.get(t)
            if j is None:
                j = vocab[t] = len(vocab)
            idx_stream.append(j)
    if vocab:
        digests = b"".join(
            hashlib.md5(t.encode()).digest()[:8] for t in vocab
        )
        bits = np.unpackbits(
            np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8), axis=1
        )
        pm = bits.astype(np.int8) * 2 - 1  # (vocab, 64) ±1 votes
    idx_arr = np.asarray(idx_stream, dtype=np.int64)
    out: list[int | None] = []
    pos = 0
    zeros = np.zeros(64, dtype=np.int64)
    for n in lengths:
        if n < 0:
            out.append(None)
            continue
        if n == 0:
            acc = zeros
        else:
            acc = pm[idx_arr[pos:pos + n]].sum(axis=0, dtype=np.int64)
            pos += n
        v = np.packbits((acc > 0).astype(np.uint8))
        out.append(int.from_bytes(v.tobytes(), "big", signed=False) - (1 << 63))
    return pd.Series(out, index=text.index, dtype=object)


def simhash_near_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 4,
    text_col: str = "text",
    max_chunk: int | None = None,
    n_rows: int | None = None,
    hash_family: str = "native",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into 4×16-bit chunks
    (pigeonhole: hamming ≤ 4 pairs almost always share a chunk at ≤3
    flipped chunks), join on chunk equality, verify exact hamming.

    The chunk self-join carries the same hot-bucket skew guard as the
    embedding LSH paths, DEFAULTED ON: a corpus mass (e.g. empty /
    near-empty docs, which all hash to one constant simhash) would put b
    docs into one chunk bucket → O(b²) candidate pairs. ``max_chunk=None``
    computes ~8× the uniform chunk population (65536 chunk values/band,
    floored at 512 so small corpora are untouched); oversized chunk
    groups are deterministically downsampled (xxhash64 order) on both
    join sides — recall degrades only in the pathological region.
    ``max_chunk=0`` disables the cap (exactness / oracle mode). ``n_rows``
    (caller-known corpus size) skips the row-count probe; otherwise a
    zero-job parquet-footer count is tried before one count() job.

    ``hash_family``: ``"native"`` (default) hashes tokens with xxhash64
    fully JVM-side — the scale path; ``"md5"`` uses the Arrow-UDF md5
    family whose bits are replicable in DuckDB SQL (oracle mode). Pair
    sets differ between families only where hamming distances straddle
    ``max_hamming`` — both are valid SimHash instantiations."""
    if max_chunk is None:
        max_chunk = default_bucket_cap(_cap_row_count(df, n_rows), 65536)
    if hash_family == "native":
        h = simhash64_native(df, text_col=text_col).where(F.col("sim").isNotNull())
    elif hash_family == "md5":
        # spread the narrow projection so the Arrow-UDF stage runs on all
        # cores' Python workers, not the 1-4 scan tasks of a small corpus
        src = spread_scan(df.select("doc_id", F.col(text_col).alias("_t")))
        h = src.select("doc_id", simhash64(F.col("_t")).alias("sim"))
    else:
        raise ValueError(f"hash_family must be 'native' or 'md5', got {hash_family!r}")
    return simhash_chunk_pairs(h, max_hamming=max_hamming, max_chunk=max_chunk)


def sim_chunks(h: DataFrame) -> DataFrame:
    """Band a ``(doc_id, sim)`` frame's 64 bits into 4×16-bit chunks —
    (doc_id, sim, chunk_idx, chunk). Both idx and value must match for
    two docs to become a candidate pair (pigeonhole over max_hamming)."""
    return h.select(
        "doc_id", "sim",
        F.posexplode(
            F.array(*[F.shiftright(F.col("sim"), 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)])
        ).alias("chunk_idx", "chunk"),
    )


def simhash_chunk_pairs(
    h: DataFrame, *, max_hamming: int = 4, max_chunk: int = 0
) -> DataFrame:
    """The chunk-band self-join half of ``simhash_near_pairs``, over an
    already-computed ``(doc_id, sim)`` frame — shared by the recompute
    path above and the persistent SimhashIndex (which stores sims and
    must never re-hash the corpus). Cap semantics identical to
    ``simhash_near_pairs``; callers own the default-cap computation
    because only they know where a cheap row count comes from.

    Precondition: ``h`` holds exactly one ``sim`` per ``doc_id`` (a
    keyed table read such as ``SimhashIndex.sims()``, or a corpus whose
    ``doc_id`` is unique). The pair dedup below relies on ``(doc1,
    doc2)`` determining the hamming distance; a doc with two sims can
    emit the same pair twice with different distances. Not checked
    here — that would cost a shuffle of ``h``."""
    chunks = cap_hot_groups(sim_chunks(h), ["chunk_idx", "chunk"], "doc_id", max_chunk)
    x = chunks.alias("x")
    y = chunks.alias("y")
    ham = F.bit_count(F.col("x.sim").bitwiseXOR(F.col("y.sim")))
    # hamming is a pure function of the joined pair, so the ≤ max_hamming
    # verify commutes with the cross-chunk pair dedup — applying it BEFORE
    # the distinct means the dedup exchange shuffles only NEAR pairs (the
    # join's output is dominated by far candidates at expected hamming
    # ~32 of 64 bits), and deduping the (doc1, doc2, hamming) projection
    # drops the two 8-byte sims from the shuffled row as well. Same rows
    # out: filter-then-distinct == distinct-then-filter for a
    # deterministic per-row predicate, and (doc1, doc2) determines
    # hamming.
    return (
        x.join(
            y,
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("x.doc_id").alias("doc1"),
            F.col("y.doc_id").alias("doc2"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def near_dup_clusters(
    pairs: DataFrame,
    *,
    id1: str = "doc1",
    id2: str = "doc2",
    max_iter: int = 20,
    checkpoint: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the step that
    turns pairwise near-dup OUTPUT (minhash/simhash/cosine pairs) into a
    dedup DECISION: ``(doc_id, cluster_id)`` where ``cluster_id`` is the
    minimum doc id of the component, so ``doc_id == cluster_id`` marks
    the survivor and everything else is droppable.

    Spark-first iterative min-label propagation: every node starts
    labeled with itself; each round takes the min of its own and its
    neighbors' labels (one equi-join + partial-aggregated groupBy per
    round — map-side combine absorbs high-degree nodes); convergence in
    O(component diameter) rounds, checked with a changed-count action
    per round and capped at ``max_iter``. Near-dup components are
    shallow (dup clusters are dense), so the cap is a backstop, not a
    truncation — a hit raises rather than returning a wrong clustering.

    ``checkpoint`` truncates plan lineage per round — without it the
    iterated join tree compounds and round k replans the previous k-1
    rounds. ``checkpoint_dir`` selects the RELIABLE form: the round state
    is materialized to that (cluster-visible) directory via
    ``setCheckpointDir`` + ``DataFrame.checkpoint``, so an executor loss
    mid-iteration recomputes from the last round's files instead of
    replaying the whole join tree from the source — the right mode for a
    long-running 100 TB clustering. With ``checkpoint_dir=None`` the
    single-process ``localCheckpoint`` (executor-memory blocks, not
    fault-tolerant) is used. Only nodes appearing in at least one pair
    are returned (singletons are trivially their own cluster).
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame, held: list) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return materialize(df, held)

    e = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    labels = (
        edges.select("a").distinct().select(F.col("a").alias("node"), F.col("a").alias("label"))
    )
    # local-checkpoint blocks: the edges', the latest round's labels' and
    # the labels that round superseded, which it frees after its count.
    # Whatever is still held (bar returned labels) is freed on the way out,
    # converged, capped or failed
    edge_blocks: list = []
    label_blocks: list = []
    superseded: list = []
    try:
        if checkpoint:
            edges = _ckpt(edges, edge_blocks)
        for _ in range(max_iter):
            nbr = (
                edges.join(labels, edges["b"] == labels["node"])
                .groupBy("a")
                .agg(F.min("label").alias("nlabel"))
            )
            # a node's label moves iff a neighbor's is smaller; the flag
            # rides in the round's state, so the changed count reads it
            # instead of re-joining the new labels with the old
            new = (
                labels.join(nbr, labels["node"] == nbr["a"], "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                    F.coalesce(F.col("nlabel") < F.col("label"), F.lit(False)).alias("_moved"),
                )
            )
            superseded, label_blocks = label_blocks, []
            if checkpoint:
                new = _ckpt(new, label_blocks)
            changed = new.where("_moved").count()
            release(superseded)
            labels = new.drop("_moved")
            if changed == 0:
                label_blocks = []  # the result's blocks: the caller's to hold
                return labels.select(
                    F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
                )
    finally:
        for blocks in (edge_blocks, superseded, label_blocks):
            release(blocks)
    raise RuntimeError(
        f"near_dup_clusters did not converge within max_iter={max_iter} "
        "rounds (component diameter exceeds the cap) — raise max_iter"
    )
