"""aggview — an incrementally-maintained materialized aggregate (rollup)
table, fed by an icebox table's change-data-feed.

The reference computes its aggregates (issue counts, per-key occurrence
counts — /root/reference/src/main/java/org/embulk/input/jira/
JiraInputPlugin.java:241, JiraClient.java:214-257) by re-pulling and
re-scanning; at 100 TB a downstream dashboard or mixing-weight job cannot
re-aggregate the corpus per ingest batch. This module is classic
incremental view maintenance (IVM) on top of ``read_changes(mode="cdf")``:

  * **Additive aggregates** (count, sum, avg) are maintained purely from
    the change window by retract-and-apply arithmetic — pre-images and
    deletes subtract, post-images and inserts add — so a refresh costs
    O(changed buckets), never O(corpus).
  * **Extremal aggregates** (min, max) are not retractable: a deleted row
    can BE the extremum. The refresh applies the standard IVM trick —
    monotone update ``new_min = least(stored_min, window_min)`` when no
    retracted value ties the stored extremum, and a per-group re-aggregate
    of the source (pinned at the window's to-snapshot) ONLY for the rare
    groups where a retraction hits the stored extremum.

The view lives in its own :class:`IceboxTable` keyed by a digest of the
group columns, so maintenance inherits the whole metadata plane:
exactly-once MERGE fenced by the (from, to)-snapshot batch id (a crash
between MERGE and the consumer advance replays as a no-op), the source
table's consumer registry pinning the from-snapshot against expiration,
MOR deltas + auto-compaction for steady-state refreshes, and multi-writer
CAS. Groups whose live-row count reaches zero are DELETED from the view —
the view's row set is exactly ``SELECT group_cols FROM source GROUP BY``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .commitstore import CommitStore
from .derived import IncrementalIndex
from .icebox import IceboxTable

_GK = "_gk"
_N = "_n"

_KINDS = ("count", "sum", "min", "max", "avg")
_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_ORDERABLE = _NUMERIC + (
    T.StringType, T.TimestampType, T.DateType, T.BooleanType,
)


class AggSpecError(ValueError):
    pass


def _gk_expr(group_cols: list[str]):
    # unambiguous group identity: JSON keeps field names, escapes values,
    # and distinguishes null (field omitted) from any string — no
    # separator-collision risk a concat_ws key would carry
    return F.md5(F.to_json(F.struct(*[F.col(c) for c in group_cols]))).alias(_GK)


def _sum_type(dt: T.DataType) -> T.DataType:
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return T.DoubleType()
    return T.LongType()


def _validate_specs(
    group_cols: list[str], aggs: dict, source_schema: T.StructType
) -> None:
    if not group_cols:
        raise AggSpecError("group_cols must be non-empty")
    names = set(source_schema.names)
    for c in group_cols:
        if c not in names:
            raise AggSpecError(f"group column {c!r} not in source schema {sorted(names)}")
    if not aggs:
        raise AggSpecError("aggs must be non-empty")
    for out, (kind, col) in aggs.items():
        if out in group_cols or out in (_GK, _N):
            raise AggSpecError(f"{out}: output name collides with a group/internal column")
        if not out or out.startswith("_"):
            raise AggSpecError(
                f"{out!r}: output names must be non-empty and not start with "
                f"'_' (reserved for the view's internal columns)"
            )
        if kind not in _KINDS:
            raise AggSpecError(f"{out}: unknown agg kind {kind!r} (one of {_KINDS})")
        if kind == "count":
            if col is not None and col not in names:
                raise AggSpecError(f"{out}: count column {col!r} not in source")
            continue
        if col is None or col not in names:
            raise AggSpecError(f"{out}: {kind} needs a source column, got {col!r}")
        dt = source_schema[col].dataType
        if kind in ("sum", "avg") and not isinstance(dt, _NUMERIC):
            raise AggSpecError(f"{out}: {kind}({col}) needs a numeric column, got {dt.simpleString()}")
        if kind in ("min", "max") and not isinstance(dt, _ORDERABLE):
            raise AggSpecError(f"{out}: {kind}({col}) needs an orderable column, got {dt.simpleString()}")


def _view_schema(
    group_cols: list[str], aggs: dict, source_schema: T.StructType
) -> T.StructType:
    fields = [T.StructField(_GK, T.StringType())]
    fields += [T.StructField(c, source_schema[c].dataType) for c in group_cols]
    fields.append(T.StructField(_N, T.LongType()))
    for out, (kind, col) in aggs.items():
        if kind == "count":
            fields.append(T.StructField(out, T.LongType()))
        elif kind == "sum":
            fields.append(T.StructField(out, _sum_type(source_schema[col].dataType)))
            # SQL SUM over zero non-null values is NULL, not 0 — the
            # running sum alone cannot distinguish the two
            fields.append(T.StructField(f"_sumcnt_{out}", T.LongType()))
        elif kind in ("min", "max"):
            fields.append(T.StructField(out, source_schema[col].dataType))
        else:  # avg: stored as (double sum, non-null count); read() divides
            fields.append(T.StructField(f"_avgsum_{out}", T.DoubleType()))
            fields.append(T.StructField(f"_avgcnt_{out}", T.LongType()))
    return T.StructType(fields)


class AggView(IncrementalIndex):
    """A persistent GROUP BY rollup of a source icebox table, maintained
    incrementally from the source's change feed (see module docstring)."""

    SPEC_FILE = "aggview.json"

    def __init__(
        self, spark: SparkSession, table: IceboxTable, *,
        group_cols: list[str], aggs: dict,
    ):
        super().__init__(spark, table)
        self.group_cols = list(group_cols)
        self.aggs = {k: (kind, col) for k, (kind, col) in aggs.items()}

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        aggs: dict[str, tuple],
        source_schema: T.StructType,
        n_buckets: int = 8,
        store: CommitStore | None = None,
    ) -> "AggView":
        """``aggs`` maps output column name -> (kind, source_col), kind in
        {count, sum, min, max, avg}; ``count`` takes ``None`` for COUNT(*)
        or a column for COUNT(col) (non-null count). Decimal sums/avgs are
        carried as double. The spec is frozen in a metadata sidecar so
        every maintainer resolves the same arithmetic."""
        aggs = {k: (v[0], v[1]) for k, v in aggs.items()}
        _validate_specs(group_cols, aggs, source_schema)
        return cls._create(
            spark, path, _view_schema(group_cols, aggs, source_schema),
            key=_GK, n_buckets=n_buckets, store=store,
            spec={"group_cols": list(group_cols),
                  "aggs": {k: [kind, col] for k, (kind, col) in aggs.items()}},
        )

    # ---------------- incremental maintenance ----------------

    def _minmax_specs(self):
        return {o: (k, c) for o, (k, c) in self.aggs.items() if k in ("min", "max")}

    def _delta_aggs(self, sign):
        """Window-level aggregate expressions: additive deltas + the
        per-group post-image min/max and retracted-value min/max the
        extremal update rule needs."""
        # hidden aliases carry a double-underscore separator so no legal
        # output name (leading '_' is rejected) can collide with them
        exprs = [F.sum(sign).alias("_d__live")]
        for out, (kind, col) in self.aggs.items():
            if kind == "count":
                contrib = sign if col is None else F.when(
                    F.col(col).isNotNull(), sign
                ).otherwise(F.lit(0))
                exprs.append(F.sum(contrib).alias(f"_d_{out}"))
            elif kind == "sum":
                exprs.append(F.sum(sign.cast("long") * F.col(col)).alias(f"_d_{out}"))
                exprs.append(
                    F.sum(F.when(F.col(col).isNotNull(), sign).otherwise(F.lit(0)))
                    .alias(f"_d__sumcnt_{out}")
                )
            elif kind == "avg":
                exprs.append(
                    F.sum(sign.cast("double") * F.col(col).cast("double"))
                    .alias(f"_d__avgsum_{out}")
                )
                exprs.append(
                    F.sum(F.when(F.col(col).isNotNull(), sign).otherwise(F.lit(0)))
                    .alias(f"_d__avgcnt_{out}")
                )
            elif kind == "min":
                exprs.append(F.min(F.when(sign == 1, F.col(col))).alias(f"_post_{out}"))
                exprs.append(F.min(F.when(sign == -1, F.col(col))).alias(f"_retr_{out}"))
            else:  # max
                exprs.append(F.max(F.when(sign == 1, F.col(col))).alias(f"_post_{out}"))
                exprs.append(F.max(F.when(sign == -1, F.col(col))).alias(f"_retr_{out}"))
        return exprs

    def _evolve_with_source(self, src_table: IceboxTable) -> None:
        """Track source schema evolution: a widened measure column widens
        the view's stored column before the window folds — the frozen
        view schema would otherwise silently WRAP wide values through the
        merge's normalization cast. The view table's ``update_schema``
        enforces the widening rule (a non-widening change raises there,
        and the source's own ``update_schema`` refused it first); it
        returns early when nothing changed. A group column may not change
        type at all: ``_gk`` digests the group values' JSON text, and
        ``1`` and ``1.0`` would name two groups."""
        _validate_specs(self.group_cols, self.aggs, src_table.schema)
        have = self.table.schema
        for c in self.group_cols:
            old, new = have[c].dataType, src_table.schema[c].dataType
            if old.simpleString() != new.simpleString():
                raise AggSpecError(
                    f"source group column {c!r} changed type "
                    f"{old.simpleString()} -> {new.simpleString()}: the view "
                    f"keys groups by their JSON text — rebuild the view"
                )
        self.table.update_schema(
            _view_schema(self.group_cols, self.aggs, src_table.schema)
        )

    def refresh_from(
        self, src_table: IceboxTable, *, consumer: str = "aggview"
    ) -> dict:
        """Fold the source's changes since the last sync into the view.

        O(changed buckets) for the window + O(dirty groups) of view state,
        plus a source re-aggregate ONLY of groups where a retracted value
        ties the stored extremum (the one case min/max cannot be updated
        monotonically). Exactly-once: the MERGE batch id is the (from, to)
        snapshot pair, so a crash-replay of the same window is fenced."""

        def rows(ch, to_sid):
            # after change_window refreshed src_table: the widening check
            # sees the schema the window's CDF was read at — a stale handle
            # would miss a widening committed inside the window and let the
            # view merge's normalization cast silently wrap wide values
            # (the exact corruption _evolve_with_source exists to stop)
            self._evolve_with_source(src_table)
            return self._delta_rows(src_table, ch, to_sid)

        return self._fold(src_table, consumer=consumer, mode="cdf", rows=rows)

    def _delta_rows(self, src_table: IceboxTable, ch: DataFrame, to_sid: int):
        """The window's IVM step: fold the CDF ``ch`` into the stored
        state of the dirty groups — upserts for groups still live, deletes
        for groups whose live count reached zero."""
        gcols = self.group_cols
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        delta = (
            ch.select(_gk_expr(gcols), *gcols, sign.alias("_sign"),
                      *[f.name for f in src_table.schema.fields
                        if f.name not in gcols])
            .groupBy(_GK, *gcols)
            .agg(*self._delta_aggs(F.col("_sign")))
        )
        self.table.refresh()
        stored = self.table.read()
        stored_ren = stored.select(
            F.col(_GK),
            F.col(_N).alias("_cur__live"),
            *[F.col(f.name).alias(f"_cur_{f.name}")
              for f in self.table.schema.fields
              if f.name not in (_GK, _N, *gcols)],
        )
        j = delta.join(stored_ren, _GK, "left")

        minmax = self._minmax_specs()
        if minmax:
            # re-aggregate only groups where a retraction ties the stored
            # extremum (monotone update is unsound exactly there); in the
            # common no-tie refresh the source table is never scanned —
            # the isEmpty probe is O(dirty groups), and the plan with it
            # false carries no source read at all
            hit = F.lit(False)
            for out, (kind, col) in minmax.items():
                hit = hit | (
                    F.col(f"_cur_{out}").isNotNull()
                    & (F.col(f"_retr_{out}") == F.col(f"_cur_{out}"))
                )
            j = j.withColumn("_reagged", hit)
            need = j.where(hit).select(_GK)
            if need.isEmpty():
                for out, (kind, col) in minmax.items():
                    j = j.withColumn(
                        f"_true_{out}",
                        F.lit(None).cast(src_table.schema[col].dataType),
                    )
            else:
                src_state = src_table.read(to_sid)
                reagg = (
                    src_state.select(
                        _gk_expr(gcols), *{c for _, (_, c) in minmax.items()}
                    )
                    .join(need, _GK, "semi")
                    .groupBy(_GK)
                    .agg(*[
                        (F.min(col) if kind == "min" else F.max(col))
                        .alias(f"_true_{out}")
                        for out, (kind, col) in minmax.items()
                    ])
                )
                j = j.join(reagg, _GK, "left")

        new_n = F.coalesce(F.col("_cur__live"), F.lit(0)) + F.col("_d__live")
        vals = {_N: new_n}
        for out, (kind, col) in self.aggs.items():
            if kind in ("count", "sum"):
                vals[out] = (
                    F.coalesce(F.col(f"_cur_{out}"), F.lit(0))
                    + F.coalesce(F.col(f"_d_{out}"), F.lit(0))
                ).cast(self.table.schema[out].dataType)
                if kind == "sum":
                    vals[f"_sumcnt_{out}"] = (
                        F.coalesce(F.col(f"_cur__sumcnt_{out}"), F.lit(0))
                        + F.coalesce(F.col(f"_d__sumcnt_{out}"), F.lit(0))
                    )
            elif kind == "avg":
                vals[f"_avgsum_{out}"] = (
                    F.coalesce(F.col(f"_cur__avgsum_{out}"), F.lit(0.0))
                    + F.coalesce(F.col(f"_d__avgsum_{out}"), F.lit(0.0))
                )
                vals[f"_avgcnt_{out}"] = (
                    F.coalesce(F.col(f"_cur__avgcnt_{out}"), F.lit(0))
                    + F.coalesce(F.col(f"_d__avgcnt_{out}"), F.lit(0))
                )
            else:  # min / max
                least_or_greatest = F.least if kind == "min" else F.greatest
                mono = least_or_greatest(F.col(f"_cur_{out}"), F.col(f"_post_{out}"))
                vals[out] = F.when(
                    F.col("_reagged"), F.col(f"_true_{out}")
                ).otherwise(mono)
        payload_cols = [f.name for f in self.table.schema.fields if f.name != _GK]
        rows = j.select(
            _GK, *gcols, *[vals[c].alias(c) for c in payload_cols if c not in gcols]
        )
        ups = rows.where(F.col(_N) > 0).select(
            F.lit("upsert").alias("_change"), _GK, *payload_cols
        )
        emptied = rows.where(F.col(_N) <= 0).select(_GK)
        return ups.unionByName(self._tombstones(emptied))

    # ---------------- query ----------------

    def read(self) -> DataFrame:
        """Current rollup: (group_cols..., agg outputs...). Equals a direct
        ``GROUP BY`` of the current source state; avg outputs are computed
        from their stored (sum, count) pair, null when no non-null values
        remain (SQL AVG semantics). Refreshes the handle so a concurrent
        maintainer's commits are visible."""
        self.table.refresh()
        df = self.table.read()
        out = [F.col(c) for c in self.group_cols]
        for name, (kind, col) in self.aggs.items():
            if kind == "avg":
                out.append(
                    F.when(
                        F.col(f"_avgcnt_{name}") > 0,
                        F.col(f"_avgsum_{name}") / F.col(f"_avgcnt_{name}"),
                    ).alias(name)
                )
            elif kind == "sum":
                out.append(
                    F.when(F.col(f"_sumcnt_{name}") > 0, F.col(name)).alias(name)
                )
            else:
                out.append(F.col(name))
        return df.select(*out)
