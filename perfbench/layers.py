"""Per-layer metrics of a traced run, derived from its spans.

``_s`` metrics are mean seconds per call (inclusive of child spans) and
read 0 when the layer was never called in the window; ``share`` metrics
are inclusive span time over the window's wall time. Counter metrics come
from the Spark stages attributed to a span and its descendants.
"""

from __future__ import annotations

import statistics

# (name, unit, better) — BENCHMARK.json's per_layer list, in order
PER_LAYER = [
    ("engine.plan_s", "s", "lower"),
    ("engine.prefetch_s", "s", "lower"),
    ("engine.apply_batch_s", "s", "lower"),
    ("engine.input_bytes_per_event", "B/event", "lower"),
    ("commitstore.put_if_absent_s", "s", "lower"),
    ("commitstore.cas_lost", "count", "lower"),
    ("icebox.merge_s", "s", "lower"),
    ("icebox.merge.probe_s", "s", "lower"),
    ("icebox.merge.write_s", "s", "lower"),
    ("icebox.merge.footer_s", "s", "lower"),
    ("icebox.merge.commit_s", "s", "lower"),
    ("icebox.merge.write_share", "share", "lower"),
    ("icebox.merge.shuffle_write_bytes", "B", "lower"),
    ("icebox.merge.cpu_s", "s", "lower"),
    ("icebox.merge.spill_bytes", "B", "lower"),
    ("icebox.merge.rows_written_per_event", "ratio", "lower"),
    ("icebox.merge.skew_plan_share", "share", "lower"),
    ("icebox.merge.task_skew", "ratio", "lower"),
    ("packing.refresh_s", "s", "lower"),
    ("packing.applied_shards", "count", "lower"),
    ("aggview.refresh_s", "s", "lower"),
    ("derived.refresh_share", "share", "lower"),
    ("derived.changefeed_reads_per_batch", "count", "lower"),
    ("icebox.read_changes_s", "s", "lower"),
    ("icebox.read_changes.rows_scanned_per_change", "ratio", "lower"),
    ("audit.wap_ingest_s", "s", "lower"),
    ("audit.audit_staged_s", "s", "lower"),
    ("audit.publish_s", "s", "lower"),
    ("audit.share", "share", "lower"),
    ("icebox.compact_s", "s", "lower"),
    ("icebox.compactions", "count", "lower"),
    ("icebox.delta_files", "count", "lower"),
    ("dedupe_docs.ngram_jaccard_s", "s", "lower"),
    ("dedupe_docs.ngram_jaccard.shuffle_bytes", "B", "lower"),
    ("dedupe_docs.ngram_jaccard.cpu_s", "s", "lower"),
    ("dedupe_docs.ngram_jaccard.pair_task_skew", "ratio", "lower"),
    ("dedupe_docs.lsh_verified_s", "s", "lower"),
    ("dedupe_docs.lsh_verified.shuffle_bytes", "B", "lower"),
    ("dedupe_docs.lsh_verified.cpu_s", "s", "lower"),
    ("dedupe_docs.simhash_s", "s", "lower"),
    ("dedupe_docs.simhash.shuffle_bytes", "B", "lower"),
    ("dedupe_docs.simhash.cpu_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("trace.uncovered_share", "share", "lower"),
    ("trace.spans", "count", "lower"),
    ("traced.latency_p50_ms", "ms", "lower"),
    ("traced.throughput_per_s", "1/s", "higher"),
]

_DERIVED_REFRESH = ("packing.refresh", "aggview.refresh")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def derive(spans: list[dict], wall: float, extra: dict) -> dict:
    """Every PER_LAYER metric from one window's spans. ``extra`` supplies
    the values spans cannot give (GC, delta files, traced end-to-end)."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}

    def dur(s) -> float:
        return s["end"] - s["start"]

    def total(s, key: str) -> int:
        """Counter summed over the span and its descendants."""
        return (s.get("counters", {}).get(key, 0)
                + sum(total(c, key) for c in kids.get(s["id"], [])))

    def named(name: str, role: str | None = None) -> list[dict]:
        return [s for s in spans if s["name"] == name
                and (role is None or s["attrs"].get("role") == role)]

    def within(s, names) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] in names:
                return True
            p = by_id[p]["parent"]
        return False

    def share(ss) -> float:
        return sum(dur(s) for s in ss) / wall if wall else 0.0

    merges = [s for s in named("icebox.merge", "main") if not s["attrs"].get("skipped")]
    events = sum(s["attrs"].get("applied_events") or 0 for s in merges)
    batches = named("engine.apply_batch")
    refreshes = [s for n in _DERIVED_REFRESH for s in named(n)]
    audits = named("audit.audit_staged") + named("icebox.publish_staged")
    phase = {k: [s["attrs"].get(f"{k}_sec") or 0.0 for s in merges]
             for k in ("probe", "write", "footer")}
    cas = named("commitstore.put_if_absent")
    apply_path = named("engine.prefetch") + batches

    out = {
        "engine.plan_s": _mean(map(dur, named("engine.plan"))),
        "engine.prefetch_s": _mean(map(dur, named("engine.prefetch"))),
        "engine.apply_batch_s": _mean(map(dur, batches)),
        "engine.input_bytes_per_event":
            sum(total(s, "input_bytes") for s in apply_path) / events if events else 0.0,
        "commitstore.put_if_absent_s": _mean(map(dur, cas)),
        "commitstore.cas_lost": sum(1 for s in cas if not s["attrs"].get("won")),
        "icebox.merge_s": _mean(map(dur, merges)),
        "icebox.merge.probe_s": _mean(phase["probe"]),
        "icebox.merge.write_s": _mean(phase["write"]),
        "icebox.merge.footer_s": _mean(phase["footer"]),
        "icebox.merge.commit_s": _mean(
            dur(s) - p - w - f for s, p, w, f
            in zip(merges, phase["probe"], phase["write"], phase["footer"])),
        "icebox.merge.write_share": sum(phase["write"]) / wall if wall else 0.0,
        "icebox.merge.shuffle_write_bytes":
            _mean(total(s, "shuffle_write_bytes") for s in merges),
        "icebox.merge.cpu_s": _mean(total(s, "cpu_ns") / 1e9 for s in merges),
        "icebox.merge.spill_bytes": _mean(total(s, "spill_bytes") for s in merges),
        "icebox.merge.rows_written_per_event":
            sum(s["attrs"].get("rows_written") or 0 for s in merges) / events
            if events else 0.0,
        "icebox.merge.skew_plan_share": _mean(
            1.0 if str(s["attrs"].get("merge_plan")).startswith("skew") else 0.0
            for s in merges),
        "icebox.merge.task_skew": statistics.median(
            [s["task_skew"] for s in merges if "task_skew" in s] or [0.0]),
        "packing.refresh_s": _mean(map(dur, named("packing.refresh"))),
        "packing.applied_shards": _mean(
            s["attrs"].get("applied_shards", 0) for s in named("packing.refresh")),
        "aggview.refresh_s": _mean(map(dur, named("aggview.refresh"))),
        "derived.refresh_share": share(refreshes),
        "derived.changefeed_reads_per_batch": sum(
            1 for s in named("icebox.read_changes") if within(s, _DERIVED_REFRESH)
        ) / len(batches) if batches else 0.0,
        "icebox.read_changes_s": _mean(map(dur, named("icebox.read_changes"))),
        "icebox.read_changes.rows_scanned_per_change":
            sum(total(s, "input_records") for s in refreshes) / events
            if events and refreshes else 0.0,
        "audit.wap_ingest_s": _mean(map(dur, named("audit.wap_ingest"))),
        "audit.audit_staged_s": _mean(map(dur, named("audit.audit_staged"))),
        "audit.publish_s": _mean(map(dur, named("icebox.publish_staged"))),
        "audit.share": share(audits),
        "icebox.compact_s": _mean(map(dur, named("icebox.compact", "main"))),
        "icebox.compactions": len(named("icebox.compact", "main")),
        "trace.uncovered_share":
            max(0.0, 1.0 - share([s for s in spans if s["parent"] is None])),
        "trace.spans": len(spans),
    }
    for op in ("ngram_jaccard", "lsh_verified", "simhash"):
        calls = named(f"dedupe_docs.{op}")
        out[f"dedupe_docs.{op}_s"] = _mean(map(dur, calls))
        out[f"dedupe_docs.{op}.shuffle_bytes"] = _mean(
            total(s, "shuffle_write_bytes") for s in calls)
        out[f"dedupe_docs.{op}.cpu_s"] = _mean(total(s, "cpu_ns") / 1e9 for s in calls)
    out["dedupe_docs.ngram_jaccard.pair_task_skew"] = statistics.median(
        [s["task_skew"] for s in named("dedupe_docs.ngram_jaccard") if "task_skew" in s]
        or [0.0])
    out.update(extra)
    return {name: out[name] for name, _, _ in PER_LAYER}
