"""Training-data pipeline operators over the driver testdata
(documents/embeddings at sf0.001): dedup family, ANN, text analysis,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkcdc.ann import cosine_topk, lsh_ann_topk, lsh_planes
from sparkcdc.dedupe_docs import (
    exact_dedupe,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)
from sparkcdc.multimodal import extract_features, frame_sample_plan, with_binary_payload
from sparkcdc.textops import (
    with_fingerprint,
    with_lang_guess,
    with_quality,
    with_token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedupe_partitions_the_corpus(docs):
    d = exact_dedupe(docs)
    total = docs.count()
    assert d.agg(F.sum("n_dups")).collect()[0][0] == total
    assert d.count() <= total
    # canonical ids are real doc ids
    assert d.join(docs, d.canonical_doc_id == docs.doc_id).count() == d.count()


def test_ngram_jaccard_pairs_bounded_and_thresholded(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.3).collect()
    for r in pairs:
        assert r["doc1"] < r["doc2"]
        assert 0.3 <= r["jaccard"] <= 1.0


def test_minhash_lsh_catches_high_jaccard_pairs(spark, docs):
    # construct guaranteed near-dups: copy 5 docs with one word changed
    base = docs.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = docs.unionByName(base)
    cand = {(r["doc1"], r["doc2"]) for r in minhash_lsh_pairs(corpus).collect()}
    for r in docs.limit(5).collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in cand


def test_simhash_identical_and_near(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely unrelated content here now")],
        "doc_id: long, text: string",
    )
    h = df.select("doc_id", simhash64(F.col("text")).alias("s")).collect()
    by = {r["doc_id"]: r["s"] for r in h}
    assert by[1] == by[2]
    pairs = simhash_near_pairs(df, max_hamming=4).collect()
    assert any(p["doc1"] == 1 and p["doc2"] == 2 and p["hamming"] == 0 for p in pairs)
    assert not any({p["doc1"], p["doc2"]} == {1, 3} for p in pairs)


def test_cosine_topk_exact(emb):
    out = cosine_topk(emb, n_queries=3, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        cosines = [r["cos"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)


def test_lsh_ann_subset_of_bruteforce_space(emb):
    planes = lsh_planes(64, 4)
    assert all(v in (-1, 1) for row in planes for v in row)
    assert lsh_planes(64, 4) == planes  # deterministic
    approx = lsh_ann_topk(emb, n_queries=3, k=5)
    exact = cosine_topk(emb, n_queries=3, k=200)
    # every approx hit must carry the same cosine the exact path computed
    j = approx.alias("a").join(
        exact.alias("e"),
        (F.col("a.query_id") == F.col("e.query_id"))
        & (F.col("a.neighbor_id") == F.col("e.neighbor_id")),
    )
    mism = j.where(F.col("a.cos") != F.col("e.cos")).count()
    assert mism == 0 and approx.count() > 0


def test_textops_deterministic_and_sane(docs):
    out = with_fingerprint(with_quality(with_lang_guess(with_token_counts(docs)))).limit(50).collect()
    for r in out:
        assert r["n_tokens_ws"] >= 1
        assert r["n_tokens_bpe"] >= r["n_tokens_ws"] - 1
        assert r["lang_guess"] in {"en", "es", "de", "fr", "und"}
        assert 0 <= r["punct_ratio"] < 1
        assert len(r["fingerprint"]) == 32
    # fingerprint equals md5 of normalized text (portable definition)
    import hashlib

    r0 = out[0]
    norm = " ".join(r0["text"].split()).lower()
    assert r0["fingerprint"] == hashlib.md5(norm.encode()).hexdigest()


def test_multimodal_pipeline(docs):
    blobs = with_binary_payload(docs)
    feats = extract_features(blobs).orderBy("doc_id")
    rows = feats.limit(10).collect()
    src = {r["doc_id"]: r for r in docs.limit(50).collect()}
    for r in rows:
        assert r["n_bytes"] == src[r["doc_id"]]["n_chars"]  # ascii text
        assert len(r["features"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["features"])
        assert 1 <= r["width"] <= 1920 and 1 <= r["height"] <= 1080
    # deterministic across runs
    again = extract_features(blobs).orderBy("doc_id").limit(10).collect()
    assert [r["features"] for r in again] == [r["features"] for r in rows]
    # real decode is explicitly stubbed
    with pytest.raises(NotImplementedError):
        extract_features(blobs, decode_backend="real")
    fr = frame_sample_plan(blobs.limit(3), every_n=10).collect()
    assert all(r["byte_offset"] == r["frame_idx"] * 10 for r in fr)


def test_cosine_near_dup_pairs(emb):
    from sparkcdc.ann import cosine_near_dup_pairs

    pairs = cosine_near_dup_pairs(emb, threshold=0.3).collect()
    assert pairs, "sf0.001 should contain cosine>=0.3 bucket-mates"
    for p in pairs:
        assert p["id1"] < p["id2"] and p["cos"] >= 0.3


def test_ivf_ann_recall_and_determinism(emb):
    from sparkcdc.ann import cosine_topk, ivf_ann_topk, ivf_centroids

    cents = ivf_centroids(emb, n_clusters=8)
    assert ivf_centroids(emb, n_clusters=8) == cents  # deterministic
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)

    approx = ivf_ann_topk(emb, n_queries=3, k=10, nprobe=3)
    exact = cosine_topk(emb, n_queries=3, k=10)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # approx cosines must equal the exact path's for shared pairs
    ja = approx.alias("a").join(
        exact.alias("x"),
        (F.col("a.query_id") == F.col("x.query_id"))
        & (F.col("a.neighbor_id") == F.col("x.neighbor_id")),
    )
    assert ja.where(F.col("a.cos") != F.col("x.cos")).count() == 0


def test_ngram_df_cap_guards_stock_phrases(spark):
    """Adversarial corpus: every doc shares one stock phrase. Uncapped,
    the shared shingle links all pairs; with df_cap it is excluded from
    both the intersection AND the per-doc counts (self-consistent capped
    Jaccard), so unrelated docs no longer pair up."""
    stock = "the end of message"
    rows = [(i, f"unique{i}a unique{i}b unique{i}c {stock}", "en") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    uncapped = ngram_jaccard_pairs(df, threshold=0.01).count()
    assert uncapped == 20 * 19 // 2  # stock shingles link every pair
    capped = ngram_jaccard_pairs(df, threshold=0.01, df_cap=2)
    assert capped.count() == 0  # stock shingles dropped, nothing shared
    # and the capped variant still finds true near-dups
    rows2 = rows + [(100, f"unique5a unique5b unique5c {stock} tail", "en")]
    df2 = spark.createDataFrame(rows2, "doc_id: long, text: string, lang: string")
    hits = ngram_jaccard_pairs(df2, threshold=0.3, df_cap=2).collect()
    assert [(r["doc1"], r["doc2"]) for r in hits] == [(5, 100)]


def test_lsh_verified_consistent_with_exact_jaccard(docs):
    """lsh_verified_pairs = exact Jaccard restricted to LSH candidates:
    every returned pair must appear in the exhaustive pair set with the
    identical jaccard value (candidates ⊆ exhaustive)."""
    from sparkcdc.dedupe_docs import lsh_verified_pairs

    lv = {(r["doc1"], r["doc2"]): r["jaccard"]
          for r in lsh_verified_pairs(docs, threshold=0.6).collect()}
    exact = {(r["doc1"], r["doc2"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.6, block_col="lang").collect()}
    # blocked exhaustive search restricts to same-lang; lsh_verified does
    # not block, so compare on the common key set and require value match
    for k, v in lv.items():
        if k in exact:
            assert abs(v - exact[k]) < 1e-12
    assert lv  # the sf0.001 corpus has real near-dups to find


def test_lsh_multiband_recall_and_bucket_cap(emb):
    """OR-ed bands can only add candidates (recall amplification); every
    reported cosine matches the brute-force value for that pair; a
    max_bucket cap yields a subset of the uncapped candidates."""
    brute = {(r["query_id"], r["neighbor_id"]): r["cos"]
             for r in cosine_topk(emb, n_queries=5, k=emb.count()).collect()}
    one = lsh_ann_topk(emb, n_queries=5, k=10, n_planes=6, n_bands=1).collect()
    two = lsh_ann_topk(emb, n_queries=5, k=10, n_planes=6, n_bands=2).collect()
    for r in one + two:
        assert abs(brute[(r["query_id"], r["neighbor_id"])] - r["cos"]) < 1e-12
    # recall vs brute-force top-10 improves (or stays equal) with more bands
    top = {(q, n) for (q, n), c in
           ((k, v) for k, v in brute.items())}
    brute10 = {}
    for (q, n), c in brute.items():
        brute10.setdefault(q, []).append((c, n))
    hits = {1: 0, 2: 0}
    for nb, res in ((1, one), (2, two)):
        got = {(r["query_id"], r["neighbor_id"]) for r in res}
        for q, lst in brute10.items():
            for c, n in sorted(lst, reverse=True)[:10]:
                if (q, n) in got:
                    hits[nb] += 1
    assert hits[2] >= hits[1]
    # bucket cap: result stays valid (cos values exact, ≤ k per query);
    # top-k over the reduced candidate set may surface lower-ranked
    # neighbors, so subset holds for candidates, not for the top-k output
    capped = lsh_ann_topk(emb, n_queries=5, k=10, n_planes=6, n_bands=2,
                          max_bucket=8).collect()
    per_q = {}
    for r in capped:
        assert abs(brute[(r["query_id"], r["neighbor_id"])] - r["cos"]) < 1e-12
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v <= 10 for v in per_q.values())


def test_capped_jaccard_matches_pure_model(spark):
    """ngram_jaccard_pairs(df_cap=k) pinned against an independent pure-
    Python model on a random-ish seeded corpus (shared phrases + unique
    tails): same pair set, same jaccard values."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    phrases = [" ".join(rng.choices(vocab, k=4)) for _ in range(6)]
    docs = []
    for i in range(25):
        parts = rng.sample(phrases, k=rng.randint(1, 3)) + [
            " ".join(rng.choices(vocab, k=rng.randint(3, 8)))
        ]
        rng.shuffle(parts)
        docs.append((i, " ".join(parts), "en"))

    CAP, N, THR = 4, 3, 0.2

    def shingle_set(text):
        w = text.split()
        return {" ".join(w[i:i + N]) for i in range(len(w) - N + 1)} if len(w) >= N else set()

    sets = {d: shingle_set(t) for d, t, _ in docs}
    df_count = {}
    for s in sets.values():
        for sh in s:
            df_count[sh] = df_count.get(sh, 0) + 1
    capped = {d: {sh for sh in s if df_count[sh] <= CAP} for d, s in sets.items()}
    expected = {}
    for a, b in itertools.combinations(sorted(capped), 2):
        sa, sb = capped[a], capped[b]
        if not sa and not sb:
            continue
        inter = len(sa & sb)
        if inter == 0:
            continue
        j = inter / (len(sa) + len(sb) - inter)
        if j >= THR:
            expected[(a, b)] = j

    sdf = spark.createDataFrame(docs, "doc_id: long, text: string, lang: string")
    got = {(r["doc1"], r["doc2"]): r["jaccard"]
           for r in ngram_jaccard_pairs(sdf, threshold=THR, df_cap=CAP).collect()}
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-12


def test_bucket_cap_downsamples_instead_of_starving(spark):
    """Regression: a query living in a uniformly hot region must still get
    (degraded) neighbors under max_bucket — hot buckets are downsampled,
    not dropped."""
    import random

    rng = random.Random(5)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    rows = [
        (i, [v + rng.uniform(-0.01, 0.01) for v in base])  # one dense cluster
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = lsh_ann_topk(df, n_queries=3, k=5, n_planes=4, n_bands=2,
                       max_bucket=8).collect()
    got_queries = {r["query_id"] for r in out}
    assert got_queries == {0, 1, 2}  # nobody starved
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], 0)
        per_q[r["query_id"]] += 1
    assert all(1 <= v <= 5 for v in per_q.values())


def test_simhash_hot_chunk_cap_bounds_adversarial_mass(spark):
    """Adversarial corpus mass: 600 near-empty docs all hash to ONE
    constant simhash (one chunk bucket per band) — the chunk-join skew cap
    must bound the O(b²) candidate set; an uncapped run would emit
    C(600,2)=179700 pairs. The computed default stays inert (exact) on a
    small corpus."""
    rows = [(i, "x") for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    n = simhash_near_pairs(df, max_hamming=4, max_chunk=32).count()
    assert 0 < n <= 32 * 31 // 2
    small = spark.createDataFrame(rows[:40], "doc_id: long, text: string")
    n_default = simhash_near_pairs(small).count()
    n_uncapped = simhash_near_pairs(small, max_chunk=0).count()
    assert n_default == n_uncapped == 40 * 39 // 2


def test_lsh_default_caps_inert_at_small_scale(emb):
    """max_bucket=None now means COMPUTED skew cap, not unbounded: at gate
    scale the 512 floor exceeds every bucket so results are identical to
    the explicit-uncapped run (oracle contract preserved), while a
    default-args user at 10⁹ vectors gets a bounded plan."""
    from sparkcdc.ann import cosine_near_dup_pairs, default_bucket_cap

    assert default_bucket_cap(500, 64) == 512          # small corpus → floor
    assert default_bucket_cap(10**9, 2**16) > 100_000  # big corpus → ~8× uniform

    a = {tuple(r) for r in cosine_near_dup_pairs(
        emb, threshold=0.4, n_planes=6, n_bands=2).collect()}
    b = {tuple(r) for r in cosine_near_dup_pairs(
        emb, threshold=0.4, n_planes=6, n_bands=2, max_bucket=0).collect()}
    assert a == b and a
    c = {tuple(r) for r in lsh_ann_topk(
        emb, n_queries=3, k=5, n_planes=6, n_bands=2).collect()}
    d = {tuple(r) for r in lsh_ann_topk(
        emb, n_queries=3, k=5, n_planes=6, n_bands=2, max_bucket=0).collect()}
    assert c == d and c


def test_approx_row_count_zero_job_footer_path(spark):
    """The computed-cap row count must not cost a full count() scan when
    the input is a bare parquet scan: approx_row_count answers from
    parquet footers driver-side (zero Spark jobs) and returns None — never
    a wrong number — for plans whose row count differs from the scan's."""
    from sparkcdc.ann import approx_row_count

    raw = spark.read.parquet(f"{SF}/documents.parquet")
    true_n = raw.count()
    assert approx_row_count(raw) == true_n
    # projection/alias don't change row count → still answered from footers
    assert approx_row_count(raw.select("doc_id", "text").alias("d")) == true_n
    # filters/aggregates/limits change row count → must refuse (None)
    assert approx_row_count(raw.where(F.col("n_chars") > 3)) is None
    assert approx_row_count(raw.groupBy("source").count()) is None
    assert approx_row_count(raw.limit(5)) is None
    # non-parquet source → refuse
    mem = spark.createDataFrame([(1, "a")], "doc_id: long, text: string")
    assert approx_row_count(mem) is None


def test_default_cap_paths_launch_no_count_job(spark, monkeypatch):
    """Regression for the computed-cap extra scan: with a parquet-backed
    input (or a caller-supplied n_rows), the default-cap paths must never
    fall back to DataFrame.count() for the cap probe."""
    from pyspark.sql import DataFrame

    from sparkcdc.ann import cosine_near_dup_pairs, lsh_ann_topk

    emb_raw = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs_raw = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")

    real_count = DataFrame.count

    def boom(self):
        raise AssertionError("cap probe fell back to a count() job")

    monkeypatch.setattr(DataFrame, "count", boom)
    try:
        p1 = cosine_near_dup_pairs(emb_raw, threshold=0.4, n_planes=6, n_bands=2)
        p2 = lsh_ann_topk(emb_raw, n_queries=2, k=3, n_planes=6, n_bands=2)
        p3 = simhash_near_pairs(docs_raw, max_hamming=4)
        # n_rows short-circuits even for non-parquet inputs
        mem = spark.createDataFrame(
            [(i, "hello world") for i in range(30)], "doc_id: long, text: string"
        )
        p4 = simhash_near_pairs(mem, n_rows=30)
    finally:
        monkeypatch.setattr(DataFrame, "count", real_count)
    assert p1.count() >= 0 and p2.count() >= 0
    assert p3.count() >= 0 and p4.count() > 0


def test_minhash_hot_band_cap_bounds_adversarial_mass(spark):
    """The minhash band join now carries the same hot-band guard as the
    simhash/embedding paths (default ON): 600 identical docs collapse to
    one band key per band; the default cap bounds the candidate join at
    O(cap^2) while plain pairs are untouched (inert below 512)."""
    from sparkcdc.dedupe_docs import minhash_lsh_pairs

    rows = [(f"d{i:04d}", "same text mass " * 10) for i in range(600)]
    rows += [(f"u{i}", f"unique doc number {i} with words {i * 7} {i * 13}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id: string, text: string")
    capped = minhash_lsh_pairs(df, max_band=100).count()
    assert 0 < capped <= 100 * 99 // 2 + 50
    # default cap (512) bites at 600 identical docs
    n_default = minhash_lsh_pairs(df).count()
    assert n_default <= 512 * 511 // 2 + 50
    # inert at small scale: below the floor, default == uncapped
    small = spark.createDataFrame(rows[:400] + rows[600:], "doc_id: string, text: string")
    assert minhash_lsh_pairs(small).count() == minhash_lsh_pairs(small, max_band=0).count()


def test_near_dup_clusters_connected_components(spark):
    """Clustering turns pair output into dedup decisions: min-id label per
    component, chains resolved transitively, convergence detected; the
    max_iter backstop raises instead of returning a wrong clustering."""
    from sparkcdc.dedupe_docs import near_dup_clusters

    pairs = spark.createDataFrame(
        # component 1 is a 6-chain (diameter stresses propagation);
        # component 2 a triangle; component 3 a single pair
        [("c2", "c3"), ("c1", "c2"), ("c3", "c4"), ("c4", "c5"), ("c5", "c6"),
         ("t1", "t2"), ("t2", "t3"), ("t1", "t3"),
         ("p1", "p2")],
        "doc1: string, doc2: string",
    )
    got = {(r["doc_id"], r["cluster_id"]) for r in near_dup_clusters(pairs).collect()}
    assert got == (
        {(f"c{i}", "c1") for i in range(1, 7)}
        | {(f"t{i}", "t1") for i in range(1, 4)}
        | {("p1", "p1"), ("p2", "p1")}
    )
    # survivors = doc_id == cluster_id, exactly one per component
    survivors = [d for d, c in got if d == c]
    assert sorted(survivors) == ["c1", "p1", "t1"]
    # diameter > max_iter must raise, not silently truncate
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(12)], "doc1: string, doc2: string"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(chain, max_iter=2)
    full = near_dup_clusters(chain, max_iter=20).collect()
    assert all(r["cluster_id"] == "n00" for r in full) and len(full) == 13


def test_near_dup_clusters_frees_its_local_checkpoints(spark):
    """Superseded rounds' labels and the edge checkpoint are freed: only
    the returned labels stay held, and a non-converging call holds none."""
    import pytest as _pytest

    from sparkcdc.dedupe_docs import near_dup_clusters

    jsc = spark.sparkContext._jsc
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(8)], "doc1: string, doc2: string"
    )
    before = jsc.getPersistentRDDs().size()
    out = near_dup_clusters(chain)
    assert jsc.getPersistentRDDs().size() <= before + 1
    assert {r["cluster_id"] for r in out.collect()} == {"n0"}
    held = jsc.getPersistentRDDs().size()
    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(chain, max_iter=2)
    assert jsc.getPersistentRDDs().size() == held


def test_simhash_native_bitvote_matches_reference_packing(spark):
    """The native path's 64-sum bit-vote + two-half sign packing must
    equal an independent Python bit-vote over the SAME per-token xxhash64
    values (pulled from Spark, so only the vote/packing logic is under
    test — the hash family itself is Spark's)."""
    from sparkcdc.dedupe_docs import simhash64_native

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # identical → same sim
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "completely different content here entirely"),
        (5, None),       # null text → null sim
        (6, "   "),      # token-less → -2^63 sentinel
        (7, "solo"),     # single token: every vote ±1, sim = bits of hash
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r.doc_id: r.sim for r in simhash64_native(df).collect()}

    toks = df.selectExpr(
        "doc_id", "explode(split(trim(text), '\\\\s+')) AS tok"
    ).where("tok <> ''")
    hs = toks.selectExpr("doc_id", "xxhash64(tok) AS h").collect()
    by_doc: dict[int, list[int]] = {}
    for r in hs:
        by_doc.setdefault(r.doc_id, []).append(r.h)

    def pyvote(hashes: list[int]) -> int:
        acc = [0] * 64
        for h in hashes:
            u = h & 0xFFFFFFFFFFFFFFFF
            for b in range(64):
                acc[b] += 1 if (u >> b) & 1 else -1
        v = 0
        for b in range(64):
            if acc[b] > 0:
                v |= 1 << b
        return v - (1 << 64) if v >= (1 << 63) else v

    for doc_id in (1, 2, 3, 4, 7):
        assert got[doc_id] == pyvote(by_doc[doc_id]), f"doc {doc_id}"
    assert got[1] == got[2]
    assert got[5] is None
    assert got[6] == -(1 << 63)


def test_simhash_native_pairs_structural_properties(spark):
    """The native family satisfies the same near-dup structure the md5
    family's tests pin: exact dups at hamming 0, near dups under the
    threshold, unrelated docs absent. The near-dup hamming (6) is stable:
    xxhash64's seed is fixed, so the one-token edit flips the same six
    vote-marginal bits in every session."""
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, base),
        (2, base),  # exact duplicate
        (3, base.replace("tok3 ", "changed ", 1)),  # one token edited
        (4, "entirely unrelated words about database snapshot isolation"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = {(r.doc1, r.doc2): r.hamming
             for r in simhash_near_pairs(df, max_hamming=12, n_rows=4).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 6 and pairs[(2, 3)] == 6
    assert not any(4 in p for p in pairs)


def test_near_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir engages the RELIABLE checkpoint: same clustering as
    the localCheckpoint path, round state materialized under the dir, and
    plan lineage truncated (the returned frame scans the checkpointed RDD
    instead of replaying the k-round join tree)."""
    import os

    from sparkcdc.dedupe_docs import near_dup_clusters

    # chain of length 6 (multiple label-propagation rounds) + separate pair
    edges = [(i, i + 1) for i in range(1, 6)] + [(100, 101)]
    pairs = spark.createDataFrame(edges, "doc1: long, doc2: long")
    ckdir = str(tmp_path / "cc-ckpt")
    local = {(r.doc_id, r.cluster_id)
             for r in near_dup_clusters(pairs).collect()}
    reliable_df = near_dup_clusters(pairs, checkpoint_dir=ckdir)
    reliable = {(r.doc_id, r.cluster_id) for r in reliable_df.collect()}
    assert reliable == local
    assert {c for _, c in reliable} == {1, 100}
    # round state really landed in the reliable dir
    ck_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckdir) for f in fs
    ]
    assert ck_files, "no checkpoint files written under checkpoint_dir"
    # lineage is truncated: the final plan reads the checkpointed RDD and
    # carries none of the iterated join tree above it
    plan = reliable_df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Join" not in plan


def test_repetition_metrics_golden(spark):
    """Hand-computed repetition metrics. Bigram coverage counts OVERLAPPING
    occurrences (2·max_count/n), so a fully degenerate doc can exceed 1.0 —
    the filter only needs monotonicity in repetition, not a true cover."""
    from sparkcdc.textops import with_repetition

    rows = [
        (1, "a a a a"),          # 1 distinct word; bigram 'a a' ×3
        (2, "w x y z"),          # all distinct, all bigrams distinct
        (3, "one"),              # single word: no bigrams
        (4, "p q p q p"),        # 'p q'×2, 'q p'×2 overlapping
    ]
    out = {
        r.doc_id: r
        for r in with_repetition(
            spark.createDataFrame(rows, "doc_id: long, text: string")
        ).collect()
    }
    assert out[1].dup_word_frac == 0.75
    assert out[1].top_word_frac == 1.0
    assert out[1].top_bigram_frac == 2 * 3 / 4
    assert not out[1].repetition_keep
    assert out[2].dup_word_frac == 0.0
    assert out[2].top_word_frac == 0.25
    assert out[2].top_bigram_frac == 2 * 1 / 4
    assert out[3].top_bigram_frac == 0.0
    assert out[3].top_word_frac == 1.0
    assert out[4].dup_word_frac == (5 - 2) / 5
    assert out[4].top_word_frac == 3 / 5
    assert out[4].top_bigram_frac == 2 * 2 / 5


def test_repetition_plan_has_no_shuffle(docs):
    """The whole repetition operator must pipeline inside the scan stage:
    per-row array lambdas only — any Exchange here would be a 100 TB
    regression (a shuffle keyed on nothing useful)."""
    from sparkcdc.textops import with_repetition

    plan = (
        with_repetition(docs)
        .select("doc_id", "dup_word_frac", "top_word_frac", "top_bigram_frac")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_pii_redaction_goldens(spark):
    from sparkcdc.textops import with_pii_redacted

    rows = [
        (1, "mail a@b.org and c.d+x@e-f.co now"),       # two emails
        (2, "host 10.0.0.1 peer 192.168.255.254"),      # two IPs
        (3, "call +123-456-7890 or 555 123 4567"),      # two phone forms
        (4, "no pii here at all"),
        (5, "u7@ex0.org ip 10.7.0.7 tel +107-555-1007"),  # one of each
    ]
    out = {
        r.doc_id: r
        for r in with_pii_redacted(
            spark.createDataFrame(rows, "doc_id: long, text: string")
        ).collect()
    }
    assert (out[1].n_email, out[1].text_redacted) == (2, "mail <EMAIL> and <EMAIL> now")
    assert (out[2].n_ipv4, out[2].text_redacted) == (2, "host <IP> peer <IP>")
    assert (out[3].n_phone, out[3].text_redacted) == (2, "call <PHONE> or <PHONE>")
    assert out[4].text_redacted == "no pii here at all"
    assert (out[4].n_email, out[4].n_ipv4, out[4].n_phone) == (0, 0, 0)
    assert out[5].text_redacted == "<EMAIL> ip <IP> tel <PHONE>"
    # counts are taken BEFORE redaction: the email's digits/dots never
    # inflate the IP count, and placeholders never match later patterns
    assert (out[5].n_email, out[5].n_ipv4, out[5].n_phone) == (1, 1, 1)


def test_mix_sampling_deterministic_and_partition_invariant(docs):
    """The sample is a pure function of (key, seed): identical across
    re-runs AND across arbitrary repartitioning — the property Spark's
    own df.sample does not give on a changing cluster."""
    from sparkcdc.mix import sample_by_rates

    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    a = {r.doc_id for r in sample_by_rates(docs, rates).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in sample_by_rates(docs.repartition(7), rates).select("doc_id").collect()
    }
    assert a == b and a
    # src0 kept wholesale; absent sources dropped wholesale
    n_src0 = docs.where(F.col("source") == "src0").count()
    kept = sample_by_rates(docs, rates)
    assert kept.where(F.col("source") == "src0").count() == n_src0
    assert kept.where(~F.col("source").isin(*rates)).count() == 0


def test_mix_rates_and_split_fractions(spark):
    """At 4k keys the empirical rates concentrate near the configured ones
    (md5 uniformity), and the split draw is independent of the sample draw."""
    from sparkcdc.mix import sample_by_rates, with_split

    d = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    kept = sample_by_rates(d, {"src0": 0.5, "src1": 0.25})
    n0 = kept.where(F.col("source") == "src0").count()
    n1 = kept.where(F.col("source") == "src1").count()
    assert abs(n0 / 2000 - 0.5) < 0.05 and abs(n1 / 2000 - 0.25) < 0.05
    split = with_split(kept, val_frac=0.2)
    frac_val = split.where(F.col("split") == "val").count() / (n0 + n1)
    assert abs(frac_val - 0.2) < 0.05
    # stability under corpus growth: assignments on a subset are the
    # restriction of assignments on the full set
    sub = with_split(kept.where(F.col("doc_id") < 1000), val_frac=0.2)
    full = {r.doc_id: r.split for r in split.collect()}
    assert all(full[r.doc_id] == r.split for r in sub.collect())
