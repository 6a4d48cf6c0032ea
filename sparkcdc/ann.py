"""Similarity search over an embedding column (array<float>).

Two paths:
  * brute-force cosine top-k — the exactness baseline; broadcast the query
    set, one pass over candidates, per-query top-k via window. O(Q·N) dot
    products, all native (aggregate/zip_with inside codegen).
  * LSH-bucketed ANN — the scale path: sign-random-projection buckets from
    deterministic ±1 hyperplanes (seeded, generated driver-side so the SAME
    constants can be baked into the DuckDB oracle SQL); exact cosine only
    within matching buckets.

Cosine is computed in float64 and rounded to 6 decimals before ranking with
a vec_id tiebreak, so rankings are reproducible across engines.

Shared similarity-search steps live here, one copy each: ``_cosine`` (the
rounded float64 cosine) and ``_rank_topk`` (per-query top-k by cosine)
serve every ANN path here and in ``vecindex``; ``_lsh_topk`` (the capped
bucket join, candidate dedup and vector joins) serves ``lsh_ann_topk``
and both ``VectorIndex`` top-k paths; ``cap_hot_groups`` (the
deterministic hot-group downsample) serves the LSH bucket caps here, the
MinHash band / SimHash chunk caps in ``dedupe_docs`` and the index probes
in ``sigindex`` / ``vecindex``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _cosine(a, an, b, bn):
    """cos(a, b) from per-side norms, float64, rounded to 6 dp. Norms are
    computed once per row on each side, not per joined pair: the same
    expression over the same array, so ``an * bn`` is bit-identical to the
    inline formulation while the interpreted aggregate runs N+Q times
    instead of N*Q."""
    return F.round(_dot(F.col(a), F.col(b)) / (F.col(an) * F.col(bn)), 6)


def _rank_topk(joined: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): the ``k`` best neighbors per
    query of a joined ``(query_id, neighbor_id, qv, qn, cv, cn)`` frame,
    ranked by cosine with a neighbor-id tiebreak."""
    cos = _cosine("qv", "qn", "cv", "cn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        joined.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def cosine_topk(
    emb: DataFrame,
    *,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for the first ``n_queries`` vectors (query =
    vec_id < n_queries), excluding self. Output: (query_id, neighbor_id,
    rank, cos) with cos rounded to 6 dp for cross-engine determinism."""
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    joined = c.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    return _rank_topk(joined, k)


def lsh_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5(seed, plane, dim) parity —
    pure Python so the identical constants are available to bake into
    oracle SQL text."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[0]
            row.append(1 if h % 2 == 0 else -1)
        planes.append(row)
    return planes


def lsh_bucket_expr(vec_col: str, planes: list[list[int]]):
    """Bucket id = sign-bit string over the planes."""
    bits = []
    for row in planes:
        plane = F.array(*[F.lit(float(v)) for v in row])
        bits.append(F.when(_dot(F.col(vec_col), plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def fixed_centroids(dim: int, n_clusters: int, seed: int = 42) -> list[list[float]]:
    """Deterministic data-independent IVF codebook: small-integer vectors
    from md5(seed, cluster, dim) — pure Python, so the identical literals
    can be baked into oracle SQL (same pattern as lsh_planes). The learned
    k-means codebook (ivf_centroids) quantizes better; this one exists so
    the IVF machinery (inverted-list join, nprobe, ranking) has an
    exact cross-engine oracle."""
    cent = []
    for c in range(n_clusters):
        row = [
            float(hashlib.md5(f"{seed}:ivf:{c}:{d}".encode()).digest()[0] % 17 - 8)
            for d in range(dim)
        ]
        cent.append(row)
    return cent


def ivf_centroids(
    emb: DataFrame,
    *,
    n_clusters: int = 8,
    iters: int = 5,
    sample_n: int = 2_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic driver-side k-means on a bounded sample (numpy, seeded
    init by hashing ids). The centroid table is tiny — at scale it ships as
    literals/broadcast while assignment stays distributed."""
    import numpy as np

    sample = (
        emb.orderBy(F.abs(F.xxhash64(F.col(id_col), F.lit(seed))))
        .limit(sample_n)
        .select(vec_col)
        .collect()
    )
    x = np.asarray([list(r[0]) for r in sample], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cent = x[: n_clusters].copy()
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(n_clusters):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return [[float(v) for v in row] for row in cent]


def _ivf_assign_expr(vec_col: str, centroids: list[list[float]], *, top: int = 1):
    """Cluster ids of the `top` nearest centroids — native exprs: per-
    centroid dot products, ranked via sorted array of (negated sim, id)."""
    sims = F.array(*[
        F.struct(
            (-_dot(F.col(vec_col), F.array(*[F.lit(v) for v in row]))).alias("neg"),
            F.lit(i).alias("cid"),
        )
        for i, row in enumerate(centroids)
    ])
    return F.slice(F.array_sort(sims), 1, top)


def ivf_ann_topk(
    emb: DataFrame,
    *,
    n_queries: int = 5,
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: candidates are indexed by their nearest
    centroid; each query probes its ``nprobe`` nearest clusters and ranks
    exact cosine within them. The inverted-list join replaces the O(Q·N)
    cross join; recall tunes with nprobe.

    ``centroids=None`` learns the codebook with driver-side k-means
    (ivf_centroids); passing an explicit codebook (e.g. fixed_centroids)
    keeps the query data-independent for cross-engine oracles."""
    if centroids is None:
        centroids = ivf_centroids(emb, n_clusters=n_clusters, seed=seed,
                                  id_col=id_col, vec_col=vec_col)
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        F.element_at(_ivf_assign_expr(vec_col, centroids, top=1), 1)["cid"].alias("cluster"),
    )
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        F.explode(
            F.transform(_ivf_assign_expr(vec_col, centroids, top=nprobe), lambda s: s["cid"])
        ).alias("cluster"),
    )
    joined = c.join(F.broadcast(q), "cluster").where(F.col("neighbor_id") != F.col("query_id"))
    return _rank_topk(joined, k)


def band_seed(seed: int, band: int) -> int:
    """Per-band plane seed — pure function so oracle SQL can bake the same
    planes per band."""
    return seed + 1000 * band


def _band_tagged(
    emb: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_bands: int,
    seed: int,
    max_bucket: int,
) -> DataFrame:
    """(id, band, bucket): one row per (vector, band). Bands use
    independent hyperplane sets — candidates are OR-ed across bands
    (recall amplification: P(candidate) = 1-(1-p^planes)^bands). A
    ``max_bucket`` cap downsamples oversized buckets (hot-region skew
    guard: a bucket holding b vectors costs O(b²) in the pair join)."""
    bucket_cols = [
        lsh_bucket_expr(vec_col, lsh_planes(dim, n_planes, band_seed(seed, b)))
        for b in range(n_bands)
    ]
    tagged = emb.select(
        F.col(id_col),
        F.posexplode(F.array(*bucket_cols)).alias("band", "bucket"),
    )
    return cap_hot_groups(tagged, ["band", "bucket"], id_col, max_bucket)


def approx_row_count(df: DataFrame) -> int | None:
    """Row count with ZERO Spark jobs when the plan is a bare (possibly
    projected/aliased) parquet scan: sum each input file's parquet-footer
    ``num_rows`` driver-side — the Iceberg-manifest-stats analog for raw
    paths. Returns None (caller falls back to ``df.count()``) when the plan
    filters/joins/aggregates (those change the row count), the source is
    not local parquet, or anything about the plan is unrecognized.

    Exists so the computed skew caps (``default_bucket_cap`` callers) do
    not launch a full count scan per call: at 10⁹ rows the count job reads
    every footer anyway — doing it driver-side is bounded by file count,
    not row count, and costs no cluster job at all."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while True:
            name = node.getClass().getSimpleName()
            if name in ("Project", "SubqueryAlias"):
                node = node.children().head()
                continue
            if not name.startswith("LogicalRelation"):
                return None
            break
        # list files from the relation's own FileIndex, NOT df.inputFiles():
        # the latter goes through the cache manager, which substitutes an
        # InMemoryRelation (empty file list) once the same path is cached
        files = [
            str(f)
            for f in node.relation().location().inputFiles()
        ]
        if not files or not all(f.endswith(".parquet") for f in files):
            return None
        import urllib.parse
        import urllib.request

        import pyarrow.parquet as pq

        total = 0
        for f in files:
            parsed = urllib.parse.urlparse(f)
            if parsed.scheme not in ("", "file"):
                return None  # remote object store: no cheap local footer read
            total += pq.ParquetFile(urllib.request.url2pathname(parsed.path)).metadata.num_rows
        return total
    except Exception:
        return None


def _cap_row_count(df: DataFrame, n_rows: int | None) -> int:
    """Row count for computing a default skew cap: caller-supplied if
    known, else the zero-job footer count, else one count() job."""
    if n_rows is not None:
        return int(n_rows)
    fast = approx_row_count(df)
    return fast if fast is not None else df.count()


def default_bucket_cap(n_rows: int, n_buckets_per_band: int) -> int:
    """Computed skew cap: ~8× the uniform expected bucket size, floored at
    512 so small corpora are never touched. A bucket only hits this cap
    when it is ≫ uniform — exactly the pathological hot region the cap
    exists to refuse (bounding its O(b²) pair join; recall degrades only
    THERE, by design). Callers default ``max_bucket=None`` to this value,
    so a user at 10⁹ vectors gets a bounded plan out of the box; pass
    ``max_bucket=0`` to explicitly disable capping (exactness / oracle
    mode at small scale)."""
    import math

    return max(512, math.ceil(8 * n_rows / max(1, n_buckets_per_band)))


def cap_hot_groups(df: DataFrame, group_cols: list[str], id_col: str, cap: int) -> DataFrame:
    """Hot-group skew backstop: downsample every ``group_cols`` group
    larger than ``cap`` to a DETERMINISTIC ``cap``-row sample (the first
    ``cap`` rows in ``abs(xxhash64(id)), id`` order) instead of dropping
    the group outright — a join within the group stays bounded at
    O(cap²) while hot regions still yield (degraded) candidates. The one
    cap for LSH buckets, MinHash bands and SimHash chunks. ``cap <= 0``
    is a no-op (exactness / oracle mode)."""
    if cap <= 0:
        return df
    w = Window.partitionBy(*group_cols).orderBy(
        F.abs(F.xxhash64(F.col(id_col))), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    *,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    max_bucket: int | None = None,
    n_rows: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share an LSH
    bucket in at least one band (sign-random-projection, OR-ed bands),
    verified by exact cosine ≥ threshold. Candidate pairs are deduped
    BEFORE the cosine so each pair is verified once; the bucket join (not
    an all-pairs cross) is the scale path for embedding-level dedup. At
    10⁹ vectors size n_planes so buckets stay executor-sized (2^planes
    buckets/band); the skew backstop DEFAULTS ON: ``max_bucket=None``
    computes ~8× the uniform bucket size (``default_bucket_cap``), so an
    over-dense region's O(b²) pair set is refused out of the box — hot
    buckets are deterministically downsampled on BOTH sides and pair
    recall degrades only there (documented trade). ``max_bucket=0``
    disables the cap (exactness / oracle mode). ``n_rows`` (caller-known
    corpus size, e.g. from table manifest stats) skips the row-count probe;
    otherwise a zero-job parquet-footer count is tried before falling back
    to one count() job."""
    dim = len(emb.select(vec_col).first()[0])
    if max_bucket is None:
        max_bucket = default_bucket_cap(_cap_row_count(emb, n_rows), 2 ** n_planes)
    tagged = _band_tagged(
        emb, id_col=id_col, vec_col=vec_col, dim=dim,
        n_planes=n_planes, n_bands=n_bands, seed=seed, max_bucket=max_bucket,
    )
    a = tagged.select(F.col(id_col).alias("id1"), "band", "bucket")
    b = tagged.select(F.col(id_col).alias("id2"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    v1 = emb.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"),
                    _norm(F.col(vec_col)).alias("n1"))
    v2 = emb.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"),
                    _norm(F.col(vec_col)).alias("n2"))
    pairs = cand.join(v1, "id1").join(v2, "id2")
    cos = _cosine("v1", "n1", "v2", "n2")
    return pairs.select("id1", "id2", cos.alias("cos")).where(F.col("cos") >= threshold)


def lsh_ann_topk(
    emb: DataFrame,
    *,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    max_bucket: int | None = None,
    n_rows: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to candidates sharing a
    sign-random-projection bucket with the query in ANY band (OR-ed bands
    raise recall; per-band plane count bounds bucket size). Recall < 1 by
    design; the bucket join replaces the O(Q·N) cross join at scale.

    ``max_bucket`` downsamples the CANDIDATE side of hot buckets — a query
    whose bucket is hot still probes it and gets degraded-but-nonempty
    results instead of silently vanishing from the output. Defaults ON:
    ``None`` computes ~8× the uniform bucket size (``default_bucket_cap``);
    ``0`` disables the cap (exactness / oracle mode). ``n_rows`` (if the
    caller already knows the corpus size — e.g. from table manifest stats)
    skips the row-count probe entirely; otherwise a zero-job parquet-footer
    count is tried before falling back to one count() job."""
    dim = len(emb.select(vec_col).first()[0])
    if max_bucket is None:
        max_bucket = default_bucket_cap(_cap_row_count(emb, n_rows), 2 ** n_planes)
    tagged = _band_tagged(
        emb, id_col=id_col, vec_col=vec_col, dim=dim,
        n_planes=n_planes, n_bands=n_bands, seed=seed, max_bucket=0,
    )
    return _lsh_topk(
        tagged, emb, k=k, max_bucket=max_bucket, id_col=id_col, vec_col=vec_col,
        n_queries=n_queries,
    )


def _lsh_topk(
    tagged: DataFrame,
    vecs: DataFrame,
    *,
    k: int,
    max_bucket: int,
    id_col: str,
    vec_col: str,
    n_queries: int | None = None,
    queries: tuple | None = None,
) -> DataFrame:
    """The one LSH candidate step and its top-k, shared by
    ``lsh_ann_topk`` and ``vecindex.VectorIndex``: the corpus rows
    ``tagged`` ``(id_col, band, bucket)``, hot groups capped at
    ``max_bucket``, join the broadcast query rows ``(query_id, band,
    bucket)``; the distinct pairs then join the broadcast query vectors
    ``(query_id, qv)`` and the candidate vectors of ``vecs``, each with
    its norm, and are ranked by ``_rank_topk``. The queries are either
    the corpus vectors with id < ``n_queries`` (a query's pair with
    itself is dropped) or external: ``queries`` is then the pair (query
    rows, query vectors)."""
    if n_queries is None:
        q, qv = queries
    else:
        q = tagged.where(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"), "band", "bucket"
        )
        qv = vecs.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).where(
            F.col("query_id") < n_queries
        )
    c = cap_hot_groups(tagged, ["band", "bucket"], id_col, max_bucket).select(
        F.col(id_col).alias("neighbor_id"), "band", "bucket"
    )
    cand = c.join(F.broadcast(q), ["band", "bucket"])
    if n_queries is not None:
        cand = cand.where(F.col("neighbor_id") != F.col("query_id"))
    cand = cand.select("query_id", "neighbor_id").distinct()
    qv = qv.withColumn("qn", _norm(F.col("qv")))
    cv = vecs.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                     _norm(F.col(vec_col)).alias("cn"))
    joined = cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    return _rank_topk(joined, k)
