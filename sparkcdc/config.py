"""Job configuration — the PluginTask analog
(/root/reference/src/main/java/org/embulk/input/jira/JiraInputPlugin.java:57-100)
with the reference's validation semantics
(util/JiraUtil.java:58-96) minus its live-network anti-pattern: validation
here is pure (the credential probe becomes a cheap local source check done
by the engine before the run, SURVEY.md §2.1 S6)."""

from __future__ import annotations

import os
from dataclasses import dataclass, field


class ConfigError(ValueError):
    """Invalid job config (≈ embulk ConfigException)."""


def extract_error_messages(body: str) -> str:
    """Human-readable error extraction with the reference's semantics
    (client/JiraClient.java:181-194): parse the payload as JSON, join its
    ``errorMessages`` array with ``" , "``; on any parse failure (or when
    the array is absent/empty) fall back to the raw body."""
    import json

    try:
        msgs = json.loads(body).get("errorMessages")
        if msgs:
            return " , ".join(str(m) for m in msgs)
    except Exception:
        pass
    return body


@dataclass
class JobConfig:
    log_path: str
    table_path: str
    batch_size: int = 100_000
    key: str = "doc_id"
    seq_col: str = "seq"
    op_col: str = "op"
    ts_col: str = "ts"
    n_buckets: int = 64
    dynamic_schema: bool = False  # re-infer schema per run (JiraInputPlugin.java:89-91)
    # write mode of the WAL loop's commits: "cow" (rewrite touched
    # buckets) | "mor" (delta files) | "auto" (cost-based per batch). The
    # streaming sink always writes cost-based; the bootstrap load is
    # always copy-on-write (the dump is the whole table)
    merge_mode: str = "cow"
    # table maintenance after every commit, applied by both front ends
    # (run() and the streaming sink), each counting its own commits:
    compact_every: int | None = None  # mor: fold deltas every N commits
    compact_delta_files: int | None = None  # fold when manifest holds > N delta files
    # auto partition evolution: when the table's average bucket exceeds
    # this many bytes, the engine rebuckets (doubling) after the commit,
    # in batch and streaming runs alike — bucket count tracks table
    # growth without operator intervention
    target_bucket_bytes: int | None = None
    log_format: str = "parquet"  # "parquet" | "json" (JSON-lines WAL)
    # streaming front-end knobs (streaming.run_streaming / stateful sink):
    # files ingested per micro-batch — the streaming batch-size analog of
    # batch_size (bigger triggers amortize commit overhead, smaller bound
    # latency and per-trigger memory)
    stream_max_files_per_trigger: int = 8
    # trigger mode for the live (non-draining) stream: "available_now"
    # callers drain-and-stop; "processing_time" polls the source every
    # stream_trigger_interval (a real cluster's steady-state tail mode)
    stream_trigger: str = "available_now"
    stream_trigger_interval: str = "10 seconds"
    # continuous dedup-index maintenance: when set, the engine keeps a
    # SignatureIndex at this path in sync with the table, refreshing it
    # from the change feed after every applied batch — the ingest
    # pipeline's dedup probe then always sees the just-committed state.
    # Requires the payload to carry ``sigindex_text_col``.
    sigindex_path: str | None = None
    sigindex_text_col: str = "text"
    # continuous packed-corpus maintenance: when set, the engine keeps a
    # PackedTable (fixed-length training sequences) at this path in sync
    # with the table, re-packing ONLY the shards each batch touched —
    # training data is ready at every commit point instead of via a
    # corpus-wide repack job. The payload needs ``packed_tokens_col``
    # (string → whitespace-tokenized, or array) and ``packed_shard_col``
    # (the independent packing streams).
    packed_path: str | None = None
    packed_seq_len: int = 2048
    packed_tokens_col: str = "text"
    packed_shard_col: str = "source"
    # continuous ANN-index maintenance for embedding-payload tables: when
    # set, the engine keeps a VectorIndex at this path in sync with the
    # table (bucket hashing for only the changed vectors). Requires
    # key='vec_id' and an array vector column; ``vecindex_dim`` is needed
    # only when the index does not exist yet (the plane family is frozen
    # at creation).
    vecindex_path: str | None = None
    vecindex_vec_col: str = "embedding"
    vecindex_dim: int | None = None
    # continuous materialized-rollup maintenance: when set, the engine
    # keeps an AggView (incremental GROUP BY over the table — count/sum/
    # avg by retract-and-apply, min/max by monotone update + tie-triggered
    # re-aggregate; sparkcdc.aggview) at this path in sync with the table.
    # ``aggview_aggs`` maps output column -> [kind, source_col], e.g.
    #   {"n_docs": ["count", null], "sum_tok": ["sum", "n_tok"]}
    aggview_path: str | None = None
    aggview_group_cols: list | None = None
    aggview_aggs: dict | None = None
    # initial-snapshot-then-tail bootstrap (the classic CDC cold start —
    # Debezium's "snapshot then stream"): a parquet dump of the FULL
    # source state as of a watermark LSN, loaded as the table's first
    # commit; WAL tailing then starts strictly above the watermark, so a
    # retention-truncated WAL (no events at or below it) replays
    # correctly. The watermark is ``bootstrap_lsn``, or — when the dump
    # carries the ``seq_col`` column — its parquet-footer max (zero-job).
    bootstrap_path: str | None = None
    bootstrap_lsn: int | None = None
    # snapshot retention, engine-driven: every ``expire_every`` commits
    # both front ends (the run loop and the streaming sink) call
    # expire_snapshots(keep_last=retention_keep_last). Consumer pins and
    # named tags clamp the window, so continuous index/view/packed
    # maintenance is never broken by retention. Unset = retention stays
    # a manual/maintenance-job concern.
    expire_every: int | None = None
    retention_keep_last: int = 10
    # dead-letter queue for malformed WAL events: rows with a null key,
    # null op, or null sequence number are quarantined to parquet under
    # this path (one ``batch=<id>`` directory per batch, overwritten on
    # replay — idempotent) instead of polluting the table (null key) or
    # vanishing silently (null seq never matches any LSN slice). Unset =
    # legacy behavior. Read back with ``sparkcdc.engine.read_dlq``.
    dlq_path: str | None = None
    # write-audit-publish quality gate: when set, every commit of every
    # front end (WAL batch, streaming epoch, bootstrap dump) is STAGED
    # (invisible), audited with these checks against the would-be table
    # state, and only published if all pass (sparkcdc.audit). Specs are
    # check names with optional args, e.g.
    #   ["token_invariant", "key_unique", "row_count:min_rows=1"]
    # or dicts: {"check": "null_fraction", "col": "source", "max_frac": 0.1}
    audit_checks: list | None = None
    # what to do with a batch that fails its audit:
    #   "abort"      — stop the run with AuditFailedError (default; an
    #                  operator investigates, the batch was never fenced
    #                  so the fixed feed re-submits under the same id)
    #   "quarantine" — drop the batch, emit a ``batch-quarantined``
    #                  record, continue; once a LATER batch commits, the
    #                  quarantined events are permanently fenced out
    #                  (deliberate: alert + move on)
    # Both apply to WAL batches, streaming epochs and the bootstrap dump
    # alike: a dump that fails its audit raises under "abort" and is
    # dropped under "quarantine".
    audit_on_fail: str = "abort"
    # driver-level retry of a failed merge commit (≈ JiraInputPlugin.java:69-83),
    # for every front end's commits
    retry_limit: int = 5
    retry_initial_wait_sec: float = 1.0
    retry_max_wait_sec: float = 120.0
    # fixed-schema mode: every front end (WAL loop, streaming sink,
    # bootstrap load) projects its batches through these declared
    # columns, and the table's schema is theirs. Empty = the log's payload
    columns: list[dict] = field(default_factory=list)

    def validate(self) -> "JobConfig":
        # ≈ validateTaskConfig's range checks (util/JiraUtil.java:58-96)
        if not self.log_path:
            raise ConfigError("log_path could not be empty")
        if not self.table_path:
            raise ConfigError("table_path could not be empty")
        if self.batch_size <= 0:
            raise ConfigError("batch_size must be greater than 0")
        if self.retry_limit < 0 or self.retry_limit > 100:
            raise ConfigError("retry_limit must be between 0 and 100")
        if self.retry_initial_wait_sec <= 0:
            raise ConfigError("retry_initial_wait_sec must be greater than 0")
        if self.n_buckets <= 0:
            raise ConfigError("n_buckets must be greater than 0")
        if self.merge_mode not in ("cow", "mor", "auto"):
            raise ConfigError("merge_mode must be 'cow', 'mor' or 'auto'")
        if self.compact_every is not None and self.compact_every <= 0:
            raise ConfigError("compact_every must be greater than 0")
        if self.compact_delta_files is not None and self.compact_delta_files <= 0:
            raise ConfigError("compact_delta_files must be greater than 0")
        if self.target_bucket_bytes is not None and self.target_bucket_bytes <= 0:
            raise ConfigError("target_bucket_bytes must be greater than 0")
        if self.log_format not in ("parquet", "json"):
            raise ConfigError("log_format must be 'parquet' or 'json'")
        if self.stream_max_files_per_trigger <= 0:
            raise ConfigError("stream_max_files_per_trigger must be greater than 0")
        if self.stream_trigger not in ("available_now", "processing_time"):
            raise ConfigError(
                "stream_trigger must be 'available_now' or 'processing_time'"
            )
        if not str(self.stream_trigger_interval).strip():
            raise ConfigError("stream_trigger_interval could not be empty")
        if self.sigindex_path is not None and not self.sigindex_path:
            raise ConfigError("sigindex_path could not be empty")
        if self.sigindex_path is not None and not self.sigindex_text_col:
            raise ConfigError("sigindex_text_col could not be empty")
        if self.packed_path is not None:
            if not self.packed_path:
                raise ConfigError("packed_path could not be empty")
            if self.packed_seq_len < 1:
                raise ConfigError("packed_seq_len must be greater than 0")
            if not self.packed_tokens_col:
                raise ConfigError("packed_tokens_col could not be empty")
            if not self.packed_shard_col:
                raise ConfigError("packed_shard_col could not be empty")
        if self.vecindex_path is not None:
            if not self.vecindex_path:
                raise ConfigError("vecindex_path could not be empty")
            if not self.vecindex_vec_col:
                raise ConfigError("vecindex_vec_col could not be empty")
            if self.vecindex_dim is not None and self.vecindex_dim < 1:
                raise ConfigError("vecindex_dim must be greater than 0")
        if self.aggview_path is not None:
            if not self.aggview_path:
                raise ConfigError("aggview_path could not be empty")
            if not self.aggview_group_cols:
                raise ConfigError(
                    "aggview_group_cols is required with aggview_path"
                )
            if not self.aggview_aggs:
                raise ConfigError("aggview_aggs is required with aggview_path")
            for out, spec in self.aggview_aggs.items():
                if (
                    not isinstance(spec, (list, tuple)) or len(spec) != 2
                    or spec[0] not in ("count", "sum", "min", "max", "avg")
                ):
                    raise ConfigError(
                        f"aggview_aggs[{out!r}] must be [kind, source_col] "
                        f"with kind in count/sum/min/max/avg, got {spec!r}"
                    )
        if self.expire_every is not None and self.expire_every < 1:
            raise ConfigError("expire_every must be greater than 0")
        if self.retention_keep_last < 1:
            raise ConfigError("retention_keep_last must be greater than 0")
        if self.dlq_path is not None and not self.dlq_path:
            raise ConfigError("dlq_path could not be empty")
        if self.bootstrap_path is not None and not self.bootstrap_path:
            raise ConfigError("bootstrap_path could not be empty")
        if self.bootstrap_lsn is not None:
            if self.bootstrap_path is None:
                raise ConfigError("bootstrap_lsn requires bootstrap_path")
            if self.bootstrap_lsn < 0:
                raise ConfigError("bootstrap_lsn must be >= 0")
        if self.audit_on_fail not in ("abort", "quarantine"):
            raise ConfigError("audit_on_fail must be 'abort' or 'quarantine'")
        if self.audit_checks is not None:
            if not self.audit_checks:
                raise ConfigError("audit_checks could not be empty when set")
            from .audit import parse_check_specs

            try:
                parse_check_specs(self.audit_checks)
            except ValueError as exc:
                raise ConfigError(str(exc)) from exc
        for c in self.columns:
            if "name" not in c or "type" not in c:
                raise ConfigError(f"column spec needs name and type: {c}")
        if self.columns and self.key not in {c["name"] for c in self.columns}:
            raise ConfigError(
                f"declared columns must include the merge key {self.key!r}"
            )
        return self

    def check_source(self) -> None:
        """Pre-flight probe (≈ checkUserCredentials, client/JiraClient.java:53-65):
        the log path must exist and be readable before the run starts. A
        producer-written ``_ERROR`` sidecar (the WAL analog of an HTTP error
        payload) fails the pre-flight with its extracted messages."""
        if not os.path.exists(self.log_path):
            raise ConfigError(f"log source not found: {self.log_path}")
        marker = os.path.join(self.log_path, "_ERROR")
        if os.path.exists(marker):
            with open(marker) as fh:
                body = fh.read()
            raise ConfigError(
                f"log source reports error: {extract_error_messages(body)}"
            )
