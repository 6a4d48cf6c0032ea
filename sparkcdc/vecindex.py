"""vecindex — a persistent LSH-bucketed ANN index over an embedding
corpus, maintained incrementally from an icebox table's change feed.

The vector sibling of :mod:`sigindex` (same incremental-pull principle —
/root/reference/src/main/java/org/embulk/input/jira/JiraInputPlugin.java:
154-163 — via the shared :class:`IncrementalIndex` machinery): instead of
re-hashing every corpus vector through the sign-random-projection planes
on every query set (n_bands × n_planes × dim multiply-adds per vector —
the dominant ANN setup cost at 10⁹ vectors), each vector's per-band
bucket ids are computed ONCE when it changes and stored alongside the
vector in an icebox table:

    (vec_id, embedding, bucket_0 … bucket_{n_bands-1})

``ann_topk`` then answers a query set from the index alone: the (band,
bucket) rows are a pure projection+posexplode of the stored columns, the
query side is broadcast, and exact cosines use the index's own embedding
column — the source embeddings table is never scanned (pinned by plan
test). Plane family (dim, n_planes, n_bands, seed) is frozen at create
time in a metadata sidecar so every maintainer and prober buckets
identically; changing the family means building a new index.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ann import (
    _norm,
    _rank_topk,
    band_seed,
    cap_hot_groups,
    default_bucket_cap,
    lsh_bucket_expr,
    lsh_planes,
)
from .commitstore import CommitStore
from .derived import IncrementalIndex
from .icebox import IceboxTable

_META_NAME = "vecindex.json"


def _index_schema(n_bands: int, key_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("vec_id", key_type),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
        + [T.StructField(f"bucket_{b}", T.StringType()) for b in range(n_bands)]
    )


class VectorIndex(IncrementalIndex):
    """Persistent sign-random-projection ANN index over a vector corpus."""

    def __init__(
        self,
        spark: SparkSession,
        table: IceboxTable,
        *,
        dim: int,
        n_planes: int,
        n_bands: int,
        seed: int,
    ):
        self.spark = spark
        self.table = table
        self.dim = dim
        self.n_planes = n_planes
        self.n_bands = n_bands
        self.seed = seed

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        *,
        dim: int,
        n_planes: int = 8,
        n_bands: int = 4,
        seed: int = 42,
        n_buckets: int = 16,
        key_type: T.DataType = T.LongType(),
        store: CommitStore | None = None,
    ) -> "VectorIndex":
        table = IceboxTable.create(
            spark, path, _index_schema(n_bands, key_type), key="vec_id",
            n_buckets=n_buckets, store=store,
        )
        table._store.put(
            _META_NAME,
            json.dumps(
                {"dim": dim, "n_planes": n_planes, "n_bands": n_bands, "seed": seed}
            ).encode(),
        )
        return cls(spark, table, dim=dim, n_planes=n_planes, n_bands=n_bands, seed=seed)

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, *, store: CommitStore | None = None
    ) -> "VectorIndex":
        table = IceboxTable.load(spark, path, store=store)
        meta = json.loads(table._store.get(_META_NAME))
        return cls(
            spark, table, dim=int(meta["dim"]), n_planes=int(meta["n_planes"]),
            n_bands=int(meta["n_bands"]), seed=int(meta["seed"]),
        )

    # ---------------- incremental maintenance ----------------

    def _bucket_cols(self, vec_col: str) -> list:
        return [
            lsh_bucket_expr(
                vec_col, lsh_planes(self.dim, self.n_planes, band_seed(self.seed, b))
            ).alias(f"bucket_{b}")
            for b in range(self.n_bands)
        ]

    def refresh_from(
        self,
        vec_table: IceboxTable,
        *,
        consumer: str = "vecindex",
        vec_col: str = "embedding",
    ) -> dict:
        """Fold the vector table's changes since the last sync into the
        index: bucket ids are computed for ONLY the changed vectors (the
        once-per-vector hashing the per-query recompute path repeats for
        the whole corpus), null/wrong-width vectors are removed rather
        than indexed, and the MERGE + consumer pin replay exactly-once
        (same machinery and guarantees as SignatureIndex)."""

        def derive(ups: DataFrame) -> DataFrame:
            ok = ups.where(
                F.col(vec_col).isNotNull() & (F.size(vec_col) == self.dim)
            )
            return ok.select(
                "vec_id",
                F.col(vec_col).cast("array<float>").alias("embedding"),
                *self._bucket_cols(vec_col),
            )

        return self._refresh(vec_table, consumer=consumer, derive=derive)

    # ---------------- query ----------------

    def tagged(self) -> DataFrame:
        """(vec_id, band, bucket) — the ``_band_tagged`` shape as a pure
        projection of the stored bucket columns (zero hashing). Serves
        LIVE state (handle refreshed, same contract as
        SignatureIndex.signatures)."""
        self.table.refresh()
        return self.table.read().select(
            "vec_id",
            F.posexplode(
                F.array(*[F.col(f"bucket_{b}") for b in range(self.n_bands)])
            ).alias("band", "bucket"),
        )

    def ann_topk(
        self,
        *,
        n_queries: int = 5,
        k: int = 10,
        max_bucket: int | None = None,
    ) -> DataFrame:
        """Approximate top-k from the index alone — output-identical to
        ``ann.lsh_ann_topk`` over the same corpus and plane family (pinned
        by test), but with zero plane hashing and NO scan of the source
        embeddings table: candidates come from the stored (band, bucket)
        projection and exact cosines from the stored vectors. ``max_bucket``
        is the same candidate-side hot-bucket cap; ``None`` derives the
        default from the index's own manifest row stats (no count job)."""
        self.table.refresh()
        if max_bucket is None:
            n_rows = sum(e["rows"] for e in self.table.snapshot["manifest"])
            max_bucket = default_bucket_cap(n_rows, 2 ** self.n_planes)
        tagged = self.tagged()
        q = tagged.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), "band", "bucket"
        )
        c = cap_hot_groups(tagged, ["band", "bucket"], "vec_id", max_bucket).select(
            F.col("vec_id").alias("neighbor_id"), "band", "bucket"
        )
        cand = (
            c.join(F.broadcast(q), ["band", "bucket"])
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        vecs = self.table.read().select("vec_id", "embedding")
        qv = vecs.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
            _norm(F.col("embedding")).alias("qn"),
        )
        cv = vecs.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"),
            _norm(F.col("embedding")).alias("cn"),
        )
        joined = cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
        return _rank_topk(joined, k)

    def probe_topk(
        self,
        queries: DataFrame,
        *,
        k: int = 10,
        id_col: str = "query_id",
        vec_col: str = "embedding",
        max_bucket: int | None = None,
    ) -> DataFrame:
        """Top-k for EXTERNAL query vectors (not in the index): buckets are
        computed for the query set only (small — broadcast), candidates
        and exact cosines come from the index. The ingest-time "find my
        neighbors before committing" path: per-query-set cost is
        O(queries · hashing + index scan), not O(corpus · hashing)."""
        self.table.refresh()
        if max_bucket is None:
            n_rows = sum(e["rows"] for e in self.table.snapshot["manifest"])
            max_bucket = default_bucket_cap(n_rows, 2 ** self.n_planes)
        qtag = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<float>").alias("qv"),
            F.posexplode(
                F.array(*[c for c in self._bucket_cols(vec_col)])
            ).alias("band", "bucket"),
        )
        c = cap_hot_groups(self.tagged(), ["band", "bucket"], "vec_id", max_bucket).select(
            F.col("vec_id").alias("neighbor_id"), "band", "bucket"
        )
        cand = (
            c.join(F.broadcast(qtag.select("query_id", "band", "bucket")),
                   ["band", "bucket"])
            .select("query_id", "neighbor_id")
            .distinct()
        )
        qv = qtag.select("query_id", "qv").distinct().withColumn(
            "qn", _norm(F.col("qv"))
        )
        cv = self.table.read().select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"),
            _norm(F.col("embedding")).alias("cn"),
        )
        joined = cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
        return _rank_topk(joined, k)
