"""The micro-batch apply loop — the engine's `transaction()`/`run()`
(SURVEY.md §3.1). The reference's sequential page loop
(/root/reference/src/main/java/org/embulk/input/jira/JiraInputPlugin.java:139-168)
becomes: plan LSN ranges on the driver, and for each range
scan → (evolve schema) → LWW dedup → MERGE commit → lineage advance,
with Spark providing all intra-batch parallelism.

Exactly-once: the icebox commit carries the lineage checkpoint and the
batch_id fence atomically, so a re-run after any failure (driver retry,
executor kill, whole-process kill) resumes from the last committed
snapshot and re-applies only uncommitted ranges; re-commits are no-ops.
"""

from __future__ import annotations

import datetime
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .changelog import max_seq, scan_slice
from .config import ConfigError, JobConfig
from .derived import shared_windows, too_many_deltas
from .icebox import IceboxTable, bucket_expr
from .metrics import MetricsLog
from .schema_infer import detect_evolution

PREVIEW_RECORDS_COUNT = 10  # Constant.java:8

# the derived tables a commit is folded into, in refresh order:
# (CDCEngine attribute, record kind, the refresh result's count field)
_DERIVED = (
    ("sigindex", "index-refresh", "applied_events"),
    ("packed", "packed-refresh", "applied_shards"),
    ("vecindex", "vecindex-refresh", "applied_events"),
    ("aggview", "aggview-refresh", "applied_events"),
)

# java exception classes that signal a deterministic (non-retryable) failure
_NON_RETRYABLE_JAVA = (
    "AnalysisException",
    "IllegalArgumentException",
    "ParseException",
    "NumberFormatException",
)


def is_retryable(exc: BaseException) -> bool:
    """Retry classifier with the reference's semantics
    (client/JiraClient.java:100-147, tests client/JiraClientTest.java:143-192):
    deterministic errors — the 4xx analog: bad config, bad plan, bad
    arguments — fail fast without burning the retry budget; transient ones —
    the IOException / 5xx / 429 / 408 analog: lost executors, network,
    shuffle-fetch failures — retry with exponential backoff."""
    from pyspark.errors import (
        AnalysisException,
        IllegalArgumentException,
        ParseException,
    )

    if isinstance(
        exc,
        (
            ConfigError,
            AnalysisException,
            IllegalArgumentException,
            ParseException,
            ValueError,
            TypeError,
            KeyError,
        ),
    ):
        return False
    try:
        from py4j.protocol import Py4JJavaError

        if isinstance(exc, Py4JJavaError):
            jcls = str(exc.java_exception.getClass().getName())
            return not any(name in jcls for name in _NON_RETRYABLE_JAVA)
    except Exception:  # pragma: no cover - py4j internals unavailable
        pass
    return True  # unknown / IO / network → transient, retry


def schema_from_columns(columns: list[dict]) -> T.StructType:
    """Declared column specs → table schema (the reference's fixed-schema
    mode, README.md:33-47 `columns:`)."""
    from .coerce import EMBULK_TO_SPARK

    return T.StructType(
        [T.StructField(c["name"], EMBULK_TO_SPARK[c["type"]], True) for c in columns]
    )


def default_table_schema(log_schema: T.StructType, cfg: JobConfig) -> T.StructType:
    """Target schema = declared columns when given (fixed-schema mode),
    else the log payload columns (everything but op/seq/ts)."""
    if cfg.columns:
        return schema_from_columns(cfg.columns)
    skip = {cfg.seq_col, cfg.op_col, cfg.ts_col}
    return T.StructType([T.StructField(f.name, f.dataType, True)
                         for f in log_schema.fields if f.name not in skip])


class CDCEngine:
    def __init__(self, spark: SparkSession, cfg: JobConfig, log_df: DataFrame | None = None):
        self.spark = spark
        self.cfg = cfg.validate()
        self._log_is_parquet_wal = False
        self._log_is_json_wal = False
        if log_df is None:
            from .changelog import read_log

            cfg.check_source()
            log_df = read_log(spark, cfg.log_path, fmt=cfg.log_format)
            self._log_is_parquet_wal = cfg.log_format == "parquet"
            self._log_is_json_wal = cfg.log_format == "json"
            # path-backed WALs are re-opened at the start of every run():
            # Spark caches the file listing in the DataFrame's relation, so
            # a handle built here would never see segments appended between
            # runs (planning reads footers directly and WOULD see them —
            # the scan must not lag the plan)
            self._log_from_path = True
        else:
            self._log_from_path = False
        self.log = log_df
        # string columns upgraded to timestamp by a dynamic re-guess, with
        # their detected strftime formats: the engine parses them itself
        # before the merge (a plain cast would NULL non-ISO formats)
        self._dynamic_ts_formats: dict[str, str] = {}
        if IceboxTable.exists(cfg.table_path):
            self.table = IceboxTable.load(spark, cfg.table_path)
        else:
            schema = default_table_schema(self.log.schema, cfg)
            self.table = IceboxTable.create(
                spark, cfg.table_path, schema, key=cfg.key, n_buckets=cfg.n_buckets
            )
        self.metrics = MetricsLog(cfg.table_path)
        # per-run prefetched merge-probe statistics, keyed by (lo, hi)
        # batch range (see _prefetch_probe_stats)
        self._probe_stats: dict[tuple[int, int], dict] = {}
        tbl_schema = self.table.schema
        self.sigindex = self.packed = self.aggview = self.vecindex = None
        if cfg.sigindex_path:
            from .sigindex import SignatureIndex

            if cfg.sigindex_text_col not in tbl_schema.names:
                raise ConfigError(
                    f"sigindex_text_col {cfg.sigindex_text_col!r} not in the "
                    f"table payload {tbl_schema.names} — continuous index "
                    f"maintenance needs a text column to shingle"
                )
            if cfg.key != "doc_id":
                raise ConfigError(
                    "continuous index maintenance requires key='doc_id' "
                    "(the dedup family's document identity column)"
                )
            self.sigindex = self._open_derived(
                SignatureIndex, cfg.sigindex_path, {},
                key_type=tbl_schema[cfg.key].dataType,
            )
        if cfg.packed_path:
            from .packing import PackedTable

            for role, col in (("packed_tokens_col", cfg.packed_tokens_col),
                              ("packed_shard_col", cfg.packed_shard_col)):
                if col not in tbl_schema.names:
                    raise ConfigError(
                        f"{role} {col!r} not in the table payload "
                        f"{tbl_schema.names} — continuous packed-corpus "
                        f"maintenance needs it"
                    )
            tok_dt = tbl_schema[cfg.packed_tokens_col].dataType
            if isinstance(tok_dt, T.StringType):
                token_type = T.StringType()  # whitespace-tokenized
            elif isinstance(tok_dt, T.ArrayType):
                token_type = tok_dt.elementType
            else:
                raise ConfigError(
                    f"packed_tokens_col {cfg.packed_tokens_col!r} must be a "
                    f"string or array column, got {tok_dt.simpleString()}"
                )
            self.packed = self._open_derived(
                PackedTable, cfg.packed_path,
                {"seq_len": int(cfg.packed_seq_len), "id_col": cfg.key,
                 "tokens_col": cfg.packed_tokens_col,
                 "shard_col": cfg.packed_shard_col},
                shard_type=tbl_schema[cfg.packed_shard_col].dataType,
                token_type=token_type,
            )
        self._bootstrap_lsn_cache: int | None = None
        # dead-letter splitting is on whenever a DLQ is configured; run()
        # turns it off for the whole run when the WAL's parquet footers
        # prove zero nulls in (key, op, seq) — the clean common case then
        # pays nothing per batch
        self._dlq_split = bool(cfg.dlq_path)
        if cfg.aggview_path:
            from .aggview import AggSpecError, AggView

            try:
                self.aggview = self._open_derived(
                    AggView, cfg.aggview_path,
                    {"group_cols": list(cfg.aggview_group_cols or []),
                     "aggs": {k: [v[0], v[1]]
                              for k, v in (cfg.aggview_aggs or {}).items()}},
                    source_schema=tbl_schema,
                )
            except AggSpecError as exc:
                raise ConfigError(f"aggview spec invalid: {exc}") from exc
        if cfg.vecindex_path:
            from .vecindex import VectorIndex

            if cfg.key != "vec_id":
                raise ConfigError(
                    "continuous ANN-index maintenance requires key='vec_id' "
                    "(the vector family's identity column)"
                )
            vdt = tbl_schema[cfg.vecindex_vec_col].dataType \
                if cfg.vecindex_vec_col in tbl_schema.names else None
            if not isinstance(vdt, T.ArrayType):
                raise ConfigError(
                    f"vecindex_vec_col {cfg.vecindex_vec_col!r} must be an "
                    f"array column of the table payload {tbl_schema.names}"
                )
            if cfg.vecindex_dim is None and not VectorIndex.table_exists(
                cfg.vecindex_path
            ):
                raise ConfigError(
                    "vecindex_dim is required to create a new vector "
                    "index (the plane family is frozen at creation)"
                )
            # an unset dim means "use the stored one"
            self.vecindex = self._open_derived(
                VectorIndex, cfg.vecindex_path,
                {} if cfg.vecindex_dim is None else {"dim": cfg.vecindex_dim},
                key_type=tbl_schema[cfg.key].dataType,
            )

    def _open_derived(self, cls, path: str, want: dict, **create_kw):
        """The one create-or-load of a derived table: ``cls.create`` with
        the spec fields ``want`` and the schema arguments ``create_kw``
        when no table exists at ``path``; otherwise ``cls.load``, and
        every field of ``want`` must equal the persisted spec. A loaded
        table keeps maintaining its PERSISTED spec, so a changed config
        would be silently ignored — it raises ``ConfigError`` instead."""
        if not cls.table_exists(path):
            return cls.create(self.spark, path, **want, **create_kw)
        d = cls.load(self.spark, path)
        drift = [k for k, v in want.items() if d.spec.get(k) != v]
        if drift:
            raise ConfigError(
                f"{cls.__name__} at {path!r} was created with spec "
                + ", ".join(f"{k}={d.spec.get(k)!r}" for k in drift)
                + ", but the config now asks for "
                + ", ".join(f"{k}={want[k]!r}" for k in drift)
                + " — drop the table (or point its path elsewhere) to "
                "change its spec"
            )
        return d

    # ---------------- planning ----------------

    def plan_batches(self) -> list[tuple[int, int]]:
        """LSN ranges still to apply — the ceil(total/page_size) analog
        (util/JiraUtil.java:43-46), resumed from the checkpoint. For a
        parquet WAL the high-water LSN comes from footer statistics (no
        scan, no Spark job — a fixed driver cost per run instead of a
        full-column scan that grows with the log)."""
        # the WAL probe protocol reserves LSN 0 as its empty-log sentinel
        # (max_seq returns 0 for an empty WAL), so the ENGINE's event LSNs
        # are ≥ 1 and planning clamps the fresh-table floor (-1, which the
        # icebox layer uses so DIRECT merge callers can apply seq=0) up to
        # the protocol floor — keeping slice grids 0-aligned
        last = max(int(self.table.lineage["last_applied_lsn"]), 0)
        bs = self._bootstrap_watermark()
        if bs is not None:
            # snapshot-then-tail: events at or below the dump's watermark
            # are already folded into the bootstrap state — never planned,
            # even when the bootstrap commit itself carried no rows (an
            # empty source at the watermark) and so moved no lineage
            last = max(last, bs)
        hi = None
        if self._log_is_parquet_wal:
            from .changelog import max_seq_parquet_stats

            hi = max_seq_parquet_stats(self.cfg.log_path, seq_col=self.cfg.seq_col)
        elif self._log_is_json_wal:
            # JSON WALs have no footer statistics; keep planning O(new
            # segments) with a driver-side per-file max-LSN sidecar (only
            # files whose mtime/size changed since the last plan are
            # scanned — an unchanged WAL plans with ZERO Spark jobs)
            from .changelog import max_seq_json_stats

            hi = max_seq_json_stats(
                self.spark, self.cfg.log_path, self.log.schema,
                os.path.join(self.cfg.table_path, "metadata", "wal_stats.json"),
                seq_col=self.cfg.seq_col,
            )
        if hi is None:
            hi = max_seq(self.log, seq_col=self.cfg.seq_col)
        b = self.cfg.batch_size
        return [(lo, min(lo + b, hi)) for lo in range(last, hi, b)]

    def _prefetch_probe_stats(
        self, plan: list[tuple[int, int]]
    ) -> dict[tuple[int, int], dict]:
        """One WAL pass computing EVERY planned batch's merge-probe
        statistics (per-bucket event count, max LSN, max event ts).

        The merge's probe is a per-batch Spark job over the batch slice;
        across an N-batch replay that is N jobs reading the same total
        bytes this single pass reads (the WAL slices are disjoint and
        file-pruned either way) plus N-1 redundant job-scheduling
        round-trips. ``plan_batches`` ranges are the contiguous uniform
        grid ``(lo0 + i*b, lo0 + (i+1)*b]``, so each event's batch index
        is integer arithmetic on its LSN — one groupBy (batch, bucket)
        replaces N groupBy (bucket) jobs.

        The rows feed ``IceboxTable.merge`` as its ``probe_stats``, which
        re-validates equivalence (fence ≤ lo, unchanged bucket layout)
        and re-probes itself whenever a concurrent commit or a mid-run
        rebucket invalidated a prefetched entry. The engine only calls
        this when per-batch quarantine is off (``_dlq_split`` — a
        quarantine drops rows AFTER the prefetch, which would make the
        counts stale), and never larger than ``batches × n_buckets ≤
        200k`` collected rows (past that, per-batch probes keep driver
        memory flat)."""
        df = self._prepare(
            scan_slice(self.log, plan[0][0], plan[-1][1], seq_col=self.cfg.seq_col)
        )
        key, nb = self.table.key, self.table.n_buckets
        lo0, b = plan[0][0], self.cfg.batch_size
        idx = F.floor(
            (F.col(self.cfg.seq_col).cast("long") - F.lit(lo0) - 1) / F.lit(b)
        ).cast("int")
        aggs = [F.count("*").alias("n"), F.max(self.cfg.seq_col).alias("mx")]
        has_ts = bool(self.cfg.ts_col) and self.cfg.ts_col in df.columns
        if has_ts:
            aggs.append(F.max(self.cfg.ts_col).alias("mts"))
        rows = (
            df.groupBy(idx.alias("_i"), bucket_expr(key, nb).alias("_bucket"))
            .agg(*aggs)
            .collect()
        )
        out = {
            rng: {"lo": rng[0], "nb": nb, "key": key, "rows": []} for rng in plan
        }
        for r in rows:
            i = int(r["_i"])
            if not 0 <= i < len(plan):
                # an LSN off the uniform grid (e.g. a fractional seq
                # truncated below its batch's floor): the batch index
                # cannot be trusted, so every batch probes for itself
                return {}
            entry = {"_bucket": r["_bucket"], "n": r["n"], "mx": r["mx"]}
            if has_ts:
                entry["mts"] = r["mts"]
            out[plan[i]]["rows"].append(entry)
        return out

    # ---------------- evolution ----------------

    def _dynamic_reguess(self) -> list[str]:
        """``dynamic_schema``: re-guess the column set at the START of every
        run and commit it as a schema update — the reference's per-run
        re-guess (JiraInputPlugin.java:89-91,108-123). An empty dataset (or
        a guess that produces nothing) keeps the previous schema, mirroring
        the reference's empty-dataset tolerance. The guess can upgrade a
        string column whose sampled values all match a timestamp format."""
        from .schema_infer import GUESS_RECORDS_COUNT, guess_columns

        specs = guess_columns(self.log.limit(GUESS_RECORDS_COUNT))
        sys_cols = {self.cfg.seq_col, self.cfg.op_col, self.cfg.ts_col}
        if self.cfg.columns:
            # fixed-schema mode: the re-guess REPLACES the declared columns
            # (setColumns semantics, JiraInputPlugin.java:108-123), keeping
            # the merge key present
            new_cols = [s for s in specs if s["name"] not in sys_cols]
            # the merge key's declared type is PINNED: a sample whose key
            # values happen to look like epoch timestamps must not rewrite
            # a numeric-ID key column as timestamps mid-stream
            declared = {c["name"]: c for c in self.cfg.columns}
            new_cols = [
                declared[s["name"]] if s["name"] == self.cfg.key else s
                for s in new_cols
            ]
            if new_cols and self.cfg.key in {s["name"] for s in new_cols}:
                # evolve FIRST: if the re-guess implies an incompatible
                # change, detect_evolution raises and the caller-owned
                # JobConfig keeps its previous (adopted) column set
                changes = self._evolve_table(schema_from_columns(new_cols))
                self.cfg.columns = new_cols
                return changes
            # a key-less guess is rejected, visibly (not a silent no-op):
            # operators see WHY the per-run re-guess did not take effect
            self.metrics.emit(
                {
                    "kind": "dynamic-schema-rejected",
                    "reason": f"re-guess dropped the merge key {self.cfg.key!r}",
                    "guessed_columns": [s["name"] for s in specs],
                }
            )
            return []
        by_name = {f.name: f for f in self.log.schema.fields}
        fields = []
        for s in specs:
            f = by_name.get(s["name"])
            if f is None or f.name in sys_cols:
                continue
            if (
                s["type"] == "timestamp"
                and isinstance(f.dataType, T.StringType)
                and f.name != self.cfg.key  # key type is pinned (see above)
            ):
                fields.append(T.StructField(f.name, T.TimestampType(), True))
                self._dynamic_ts_formats[f.name] = s.get(
                    "format", "%Y-%m-%dT%H:%M:%S.%L%z"
                )
            else:
                fields.append(T.StructField(f.name, f.dataType, True))
        if not fields:
            return []
        return self._evolve_table(T.StructType(fields))

    def _maybe_evolve(self, batch: DataFrame) -> list[str]:
        ignore = {self.cfg.seq_col, self.cfg.op_col, self.cfg.ts_col}
        return self._evolve_table(batch.schema, ignore=ignore)

    def _evolve_table(self, incoming: T.StructType, *, ignore=frozenset()) -> list[str]:
        """Commit the add/widen evolution ``incoming`` implies (one
        schema-update commit, none when nothing changes); returns the
        change descriptions. Incompatible changes raise before any commit."""
        evolved, changes = detect_evolution(self.table.schema, incoming, ignore=ignore)
        if evolved is not None:
            self.table.update_schema(evolved)
        return changes

    # ---------------- apply ----------------

    def _project_declared(self, batch: DataFrame) -> DataFrame:
        """Fixed-schema mode: project each batch through the declared
        columns with per-type null-on-error coercion (the reference's
        addRecord visitor, util/JiraUtil.java:169-264), system columns
        passed through for the merge."""
        if not self.cfg.columns:
            return batch
        from .coerce import coerce_columns

        keep = [c for c in (self.cfg.seq_col, self.cfg.op_col, self.cfg.ts_col)
                if c in batch.columns]
        return coerce_columns(batch, self.cfg.columns, keep=keep)

    def _prepare(self, batch: DataFrame) -> DataFrame:
        """A raw batch as every commit, the probe prefetch and ``preview``
        see it: projected through the declared columns, then with its
        dynamic-reguess timestamp upgrades parsed with their DETECTED
        formats (coerce_timestamp handles %s and the non-ISO shapes a
        Catalyst cast would silently NULL)."""
        out = self._project_declared(batch)
        if not self._dynamic_ts_formats:
            return out
        from .coerce import coerce_timestamp

        for name, fmt in self._dynamic_ts_formats.items():
            if name in out.columns and isinstance(
                out.schema[name].dataType, T.StringType
            ):
                out = out.withColumn(
                    name, coerce_timestamp(F.col(name), T.StringType(), fmt)
                )
        return out

    def _bootstrap_watermark(self) -> int | None:
        """The configured bootstrap dump's watermark LSN (None when no
        bootstrap is configured): ``cfg.bootstrap_lsn``, else the dump's
        parquet-footer max over ``seq_col`` — a zero-job driver probe,
        like the WAL high-water mark."""
        if not self.cfg.bootstrap_path:
            return None
        if self._bootstrap_lsn_cache is not None:
            return self._bootstrap_lsn_cache
        lsn = self.cfg.bootstrap_lsn
        if lsn is None:
            from .changelog import max_seq_parquet_stats

            lsn = max_seq_parquet_stats(
                self.cfg.bootstrap_path, seq_col=self.cfg.seq_col
            )
        if lsn is None:
            raise ConfigError(
                f"bootstrap_lsn is required: the dump at "
                f"{self.cfg.bootstrap_path!r} carries no "
                f"{self.cfg.seq_col!r} column statistics to derive the "
                f"watermark from"
            )
        self._bootstrap_lsn_cache = int(lsn)
        return self._bootstrap_lsn_cache

    def maybe_bootstrap(self) -> dict | None:
        """Initial-snapshot-then-tail (the classic CDC cold start; the
        analog of the reference's first full pull before its incremental
        `updated >=` JQL pulls — JiraInputPlugin.java:139-168): load the
        configured full dump as ONE copy-on-write commit with every row at
        the watermark LSN, then tail the WAL strictly above it.

        Exactly-once twice over: a resumed run skips when the lineage
        fence already covers the watermark, and the merge itself is
        idempotent on its ``bootstrap-<lsn>`` batch id — a crash between
        commit and anything else replays as a fenced no-op. Rows carry
        the watermark (not any per-row seq the dump may have): the dump
        IS the folded state at the watermark, so a WAL event wins LWW
        against it iff its seq exceeds the watermark — exactly the
        events the planner will ever feed.

        The dump commits through ``_commit`` like any WAL slice: declared
        columns, DLQ split, audit and retries all apply. A failed audit
        raises under ``audit_on_fail="abort"``; under ``"quarantine"``
        the dump is dropped and recorded as ``batch-quarantined``."""
        lsn = self._bootstrap_watermark()
        if lsn is None:
            return None
        if int(self.table.lineage["last_applied_lsn"]) >= lsn:
            return None  # already bootstrapped (or tailing beyond it)
        t0 = time.time()
        # the footer proof that may have cleared per-batch splitting
        # covers only the WAL: a dump is always split when a DLQ is set
        self._dlq_split = bool(self.cfg.dlq_path)
        batch = (
            self.spark.read.parquet(self.cfg.bootstrap_path)
            .drop(self.cfg.seq_col, self.cfg.op_col)
            .withColumn(self.cfg.op_col, F.lit("upsert"))
            .withColumn(self.cfg.seq_col, F.lit(lsn).cast("long"))
        )
        return self.metrics.emit({
            "kind": "bootstrap",
            "watermark_lsn": lsn,
            # the dump is the whole table: always copy-on-write
            **self._commit(batch, f"bootstrap-{lsn}", fence=True, mor=False),
            "duration_sec": time.time() - t0,
        })

    def _quarantine_malformed(self, batch, batch_id: str) -> tuple:
        """Split malformed rows (null key, null op or null seq) out of a
        batch and park them under ``dlq_path/batch=<id>`` with a
        ``dlq_reason`` column. Only the streaming front end can see a null
        seq: a WAL slice is an LSN range and a dump row carries the
        watermark. The directory is overwritten on a crash-replay of the
        same batch, so the DLQ never accumulates duplicates. Returns
        (well-formed batch, quarantined count)."""
        cfg = self.cfg
        bad_pred = (
            F.col(cfg.key).isNull() | F.col(cfg.op_col).isNull()
            | F.col(cfg.seq_col).isNull()
        )
        bad = batch.where(bad_pred).withColumn(
            "dlq_reason",
            F.when(F.col(cfg.seq_col).isNull(), F.lit("null-seq"))
            .when(F.col(cfg.key).isNull(), F.lit("null-key"))
            .otherwise(F.lit("null-op")),
        )
        n = bad.count()
        if n:
            bad.write.mode("overwrite").parquet(
                os.path.join(cfg.dlq_path, f"batch={batch_id}")
            )
        return batch.where(~bad_pred), n

    def _dlq_sweep_null_seq(self) -> None:
        """Events with a NULL sequence number never match any LSN slice —
        without a DLQ they vanish silently. Swept once per run into
        ``batch=null-seq`` (overwrite = idempotent across runs); skipped
        entirely (with per-batch splitting disabled) when the WAL's
        parquet footers prove zero nulls in key/op/seq."""
        cfg = self.cfg
        # re-arm per-batch splitting at the start of EVERY run: a previous
        # run on this engine instance may have proven the then-current WAL
        # clean and disabled it, but newly appended segments can carry
        # nulls — the footer probe below re-evaluates the current files
        self._dlq_split = bool(cfg.dlq_path)
        if self._log_is_parquet_wal:
            from .changelog import null_counts_parquet_stats

            stats = null_counts_parquet_stats(
                cfg.log_path, [cfg.key, cfg.op_col, cfg.seq_col]
            )
            if all(v == 0 for v in stats.values()):
                self._dlq_split = False
                return
        ns = self.log.where(F.col(cfg.seq_col).isNull()).withColumn(
            "dlq_reason", F.lit("null-seq")
        )
        n = ns.count()
        if n:
            ns.write.mode("overwrite").parquet(
                os.path.join(cfg.dlq_path, "batch=null-seq")
            )
            self.metrics.emit({"kind": "dlq", "reason": "null-seq", "rows": n})

    def _commit(
        self, batch: DataFrame, batch_id: str, *, fence: bool,
        mor: bool | None, probe_stats: dict | None = None,
    ) -> dict:
        """The one commit routine of every front end — the WAL loop
        (``apply_batch``), the streaming sink and the bootstrap load:
        prepare the raw batch, split its malformed rows into the DLQ,
        evolve the schema, then merge (gated by write-audit-publish when
        ``audit_checks`` is set) inside the retry loop. Returns the
        commit's facts and merge metrics.

        ``fence=False`` is the streaming sink's unordered file delivery:
        no global LSN fence, and deletes persist as tombstones so a late
        lower-seq update cannot resurrect a row. ``mor`` is the merge's
        write mode (None = cost-based). ``probe_stats`` are the prefetched
        merge-probe statistics of an unsplit WAL slice."""
        cfg = self.cfg
        batch = self._prepare(batch)
        n_dlq = 0
        if self._dlq_split:
            batch, n_dlq = self._quarantine_malformed(batch, batch_id)
            # prefetched stats are aggregates over the UNSPLIT slice
            probe_stats = None
        changes = self._maybe_evolve(batch)
        kw = dict(seq_col=cfg.seq_col, op_col=cfg.op_col, ts_col=cfg.ts_col,
                  fence=fence, tombstones=not fence, mor=mor,
                  probe_stats=probe_stats)
        attempt, wait = 0, cfg.retry_initial_wait_sec
        while True:
            try:
                if cfg.audit_checks:
                    # gated ingest: stage → audit the would-be state →
                    # publish-or-abort (write-audit-publish; audit.py).
                    # Crash-resumable and exactly-once like the plain
                    # merge — the staged delta carries the batch_id fence.
                    from .audit import build_checks, wap_ingest

                    m = wap_ingest(self.table, batch, batch_id,
                                   checks=build_checks(cfg.audit_checks), **kw)
                else:
                    m = self.table.merge(batch, batch_id, **kw)
                break
            except Exception as exc:
                if not is_retryable(exc):
                    raise  # deterministic, like non-retryable HTTP 4xx (JiraClient.java:128-147)
                attempt += 1
                if attempt > cfg.retry_limit:
                    raise
                time.sleep(min(wait, cfg.retry_max_wait_sec))
                wait *= 2  # exponential backoff (JiraInputPlugin.java:69-75)
        rec = {"schema_changes": changes, "quarantined_rows": n_dlq, **m}
        if m.get("reason") == "audit-failed":
            if cfg.audit_on_fail == "abort":
                from .audit import AuditFailedError

                raise AuditFailedError(batch_id, m["audit"])
            # quarantine: report + continue; the batch's events become
            # permanently fenced once a later batch advances the LSN
            rec["kind"] = "batch-quarantined"
        return rec

    def apply_batch(self, lo: int, hi: int) -> dict:
        """Scan and commit one LSN range. Returns the commit's facts and
        merge metrics (``_post_commit`` emits them)."""
        mode = self.cfg.merge_mode
        return {
            "kind": "batch",
            "lo": lo,
            "hi": hi,
            # range width is planning info; the headline denominator is the
            # probe's actual pre-dedup row count (applied_events) so dup
            # delivery / gaps / re-fenced replays can't skew the rate
            "range_width": hi - lo,
            **self._commit(
                scan_slice(self.log, lo, hi, seq_col=self.cfg.seq_col),
                f"b-{lo}-{hi}", fence=True,
                mor=None if mode == "auto" else mode == "mor",
                probe_stats=self._probe_stats.get((lo, hi)),
            ),
        }

    def _commit_record(self, rec: dict, t0: float) -> dict:
        """A commit's facts (``rec``: kind, range or epoch, merge metrics)
        plus its wall since ``t0``, its rates and its watermark lag — the
        one record shape of ``batch`` and ``stream-batch``."""
        dur = time.time() - t0
        # watermark lag from the merge's probe action (no extra scan)
        mts = rec.get("max_event_ts")
        lag = (
            time.time() - datetime.datetime.fromisoformat(mts).replace(
                tzinfo=datetime.timezone.utc).timestamp()
            if mts
            else None
        )
        out = {
            **rec,
            "duration_sec": dur,
            # headline metric: change-events processed end-to-end per sec
            "events_per_sec": rec.get("applied_events", 0) / dur if dur else 0.0,
            "per_bucket_events_per_sec": {
                b: (n / dur if dur else 0.0)
                for b, n in rec.get("per_bucket_applied", {}).items()
            },
            "watermark_lag_sec": lag,
        }
        if "range_width" in rec:
            out["range_per_sec"] = rec["range_width"] / dur if dur else 0.0
        return out

    def _timed(self, kind: str, step, *args, **kwargs) -> None:
        """Run one table-maintenance ``step`` and emit its result as a
        ``kind`` record carrying the step's wall time."""
        t0 = time.time()
        out = step(*args, **kwargs)
        self.metrics.emit({"kind": kind, **out, "duration_sec": time.time() - t0})

    def _post_commit(self, rec: dict, t0: float, ordinal: int) -> None:
        """Everything that follows a commit, for both front ends (``run``
        and the streaming sink): emit the commit record, fold the commit
        into each configured derived table, then table maintenance.
        ``ordinal`` is the commit's 1-based position in its run, which
        ``expire_every`` and ``compact_every`` count in."""
        self.metrics.emit(self._commit_record(rec, t0))
        cfg = self.cfg
        opts = {
            "sigindex": {"text_col": cfg.sigindex_text_col},
            "vecindex": {"vec_col": cfg.vecindex_vec_col},
        }
        # one scope for all refreshes: the commit's change window is read
        # and evaluated once, shared by every table pinned at its
        # from-snapshot, and freed when the last refresh returns
        with shared_windows():
            for attr, kind, count in _DERIVED:
                # looked up per commit, never cached: each refresh folds
                # the change feed since its own consumer pin — O(batch),
                # exactly-once, and a replayed commit's refresh is a
                # (from, to)-identical fenced no-op
                view = getattr(self, attr)
                if view is None:
                    continue
                t = time.time()
                ref = view.refresh_from(self.table, **opts.get(attr, {}))
                self.metrics.emit({
                    "kind": kind,
                    "from_snapshot": ref.get("from_snapshot"),
                    "to_snapshot": ref.get("to_snapshot"),
                    count: ref.get(count, 0),
                    "duration_sec": time.time() - t,
                })
        if cfg.target_bucket_bytes:
            # stats-driven partition evolution: bucket count doubles
            # whenever the average bucket outgrows the target — the
            # layout tracks table growth (64 buckets at GB scale,
            # 10⁴ at 100 TB) with no operator intervention. Statistics
            # are already in the manifest; no extra IO.
            total = sum(e.get("bytes", 0) for e in self.table.snapshot["manifest"])
            nb = self.table.n_buckets
            while total > cfg.target_bucket_bytes * nb:
                nb *= 2
            if nb != self.table.n_buckets:
                self._timed("rebucket", self.table.rebucket, nb)
        if cfg.expire_every and ordinal % cfg.expire_every == 0:
            # engine-driven retention: consumer pins and tags clamp
            # the expiration window, so the continuously-maintained
            # indexes/views/packed tables keep their change feeds
            self._timed(
                "expire", self.table.expire_snapshots,
                keep_last=cfg.retention_keep_last,
            )
        if (cfg.compact_every and ordinal % cfg.compact_every == 0) or (
            # stats-driven maintenance: fold merge-on-read deltas as
            # soon as read amplification crosses the threshold
            too_many_deltas(self.table, cfg.compact_delta_files)
        ):
            self._timed("compact", self.table.compact)

    def run(self, max_batches: int | None = None) -> dict:
        """Apply all pending ranges (resumable at any point)."""
        if self._log_from_path:
            from .changelog import read_log

            self.log = read_log(
                self.spark, self.cfg.log_path, fmt=self.cfg.log_format
            )
        if self.cfg.dynamic_schema:
            changes = self._dynamic_reguess()
            if changes:
                self.metrics.emit({"kind": "dynamic-schema", "changes": changes})
        self.maybe_bootstrap()
        if self.cfg.dlq_path:
            self._dlq_sweep_null_seq()
        plan = self.plan_batches()
        if max_batches is not None:
            plan = plan[:max_batches]
        try:
            if (
                plan
                and not self._dlq_split
                and len(plan) * self.table.n_buckets <= 200_000
            ):
                t0 = time.time()
                self._probe_stats = self._prefetch_probe_stats(plan)
                # batches = those given prefetched stats (0 when the pass
                # fell back to per-batch probes); rows = stat rows collected
                self.metrics.emit({
                    "kind": "prefetch",
                    "batches": len(self._probe_stats),
                    "rows": sum(len(s["rows"]) for s in self._probe_stats.values()),
                    "duration_sec": time.time() - t0,
                })
            for i, (lo, hi) in enumerate(plan, 1):
                t0 = time.time()
                self._post_commit(self.apply_batch(lo, hi), t0, i)
        finally:
            # prefetched stats describe THIS run's WAL handle and plan; a
            # later direct apply_batch must probe for itself
            self._probe_stats = {}
        return self.metrics.totals()

    # ---------------- preview (JiraInputPlugin.java:149-152) ----------------

    def preview(self, n: int = PREVIEW_RECORDS_COUNT) -> DataFrame:
        # same engine-protocol clamp as _pending_ranges (WAL LSNs ≥ 1)
        last = max(int(self.table.lineage["last_applied_lsn"]), 0)
        bs = self._bootstrap_watermark()
        if bs is not None:
            last = max(last, bs)  # preview = next events ABOVE the dump
        nxt = scan_slice(self.log, last, last + self.cfg.batch_size,
                         seq_col=self.cfg.seq_col)
        return self._prepare(nxt).orderBy(self.cfg.seq_col).limit(n)

    def read_table(self) -> DataFrame:
        return self.table.read()

    # ---------------- guess (JiraInputPlugin.java:170-191) ----------------

    def guess(self, sample_n: int = 50) -> list[dict]:
        """Infer column specs from a log sample — the reference's third
        entry point, over the flattened payload."""
        from .schema_infer import guess_columns

        return guess_columns(self.log.limit(sample_n), sample_n=sample_n)


def read_dlq(spark: SparkSession, dlq_path: str) -> DataFrame:
    """The dead-letter queue as a DataFrame: every quarantined WAL event
    with its ``dlq_reason`` plus a ``batch`` partition column naming the
    batch (or ``null-seq`` for the once-per-run sweep) it was parked by.
    Empty-but-typed result when nothing was ever quarantined is not
    possible without a schema, so callers should guard on existence."""
    import glob

    dirs = glob.glob(os.path.join(dlq_path, "batch=*"))
    if not dirs:
        raise FileNotFoundError(f"no quarantined batches under {dlq_path!r}")
    # mergeSchema: batches quarantined before and after a mid-run schema
    # evolution carry different column sets — union them by name
    return (
        spark.read.option("basePath", dlq_path)
        .option("mergeSchema", "true")
        .parquet(*dirs)
    )
