"""Spans around the engine's public calls, with Spark stage counters
attributed to them.

A span records name, start, end, its parent and free-form attributes. It
sets a Spark job group named after its id for its duration, so every job
it (and no child span) triggers carries that group; after the run the
status API's job list maps each completed stage to the innermost span
that launched it. Spans stay in memory and are written once, at the end.

``instrument`` wraps the engine's layer boundaries by patching methods
for the duration of a traced run; the engine source is not modified.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from contextlib import contextmanager

_STAGE_KEYS = {
    "cpu_ns": ("executorCpuTime",),
    "input_bytes": ("inputBytes",),
    "input_records": ("inputRecords",),
    "shuffle_write_bytes": ("shuffleWriteBytes",),
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


class Tracer:
    """Span recorder. Disabled, ``span`` only yields ``None``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": self.now(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # ------------------------------------------------------------ counters

    def _get(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def attach_counters(self, skew_of: set[str] = frozenset()) -> None:
        """Sum each completed stage's counters into the span whose job
        group launched it (``span["counters"]``, self only). For spans named
        in ``skew_of``, also record ``task_skew``: slowest / median task
        run time of the span's longest stage."""
        if not self.enabled or self.spark.sparkContext.uiWebUrl is None:
            return
        owner: dict[int, int] = {}
        for job in sorted(self._get("jobs"), key=lambda j: j["jobId"]):
            grp = job.get("jobGroup") or ""
            if grp.startswith("pb"):
                for st in job.get("stageIds", []):
                    owner.setdefault(st, int(grp[2:]))
        longest: dict[int, tuple] = {}
        for st in self._get("stages?status=complete"):
            sid = owner.get(st["stageId"])
            if sid is None:
                continue
            c = self.spans[sid].setdefault("counters", {k: 0 for k in _STAGE_KEYS})
            for ours, theirs in _STAGE_KEYS.items():
                c[ours] += sum(int(st.get(k, 0) or 0) for k in theirs)
            rt = int(st.get("executorRunTime", 0) or 0)
            if rt > longest.get(sid, (-1,))[0]:
                longest[sid] = (rt, st["stageId"], st["attemptId"])
        for sid, (_, stage, attempt) in longest.items():
            if self.spans[sid]["name"] not in skew_of:
                continue
            q = self._get(f"stages/{stage}/{attempt}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            self.spans[sid]["task_skew"] = mx / med if med else 1.0

    # ---------------------------------------------------------- derivation

    def self_times(self) -> None:
        """``self`` = duration minus the time child spans cover (children
        of one span run one after another on the driver thread)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["self"] = (s["end"] - s["start"]) - child.get(s["id"], 0.0)

    def dump(self, path: str, info: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"info": info, "spans": self.spans}, fh)


def _patch(owner, attr: str, wrapper, undo: list) -> None:
    orig = getattr(owner, attr)
    undo.append((owner, attr, orig))
    setattr(owner, attr, wrapper(orig))


def instrument(tracer: Tracer, derived: list[str]) -> list:
    """Wrap the engine's layer boundaries in spans. Returns the undo list
    for ``restore``. Merges and compactions of the tables at the
    ``derived`` paths are tagged ``role=derived``, all others ``main``."""
    from sparkcdc import audit
    from sparkcdc.aggview import AggView
    from sparkcdc.commitstore import PosixCommitStore
    from sparkcdc.engine import CDCEngine
    from sparkcdc.icebox import IceboxTable
    from sparkcdc.packing import PackedTable

    undo: list = []

    def spanned(name, *, on_result=None, table_arg=False):
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*a, **kw):
                attrs = {}
                if table_arg:
                    attrs["role"] = "derived" if a[0].path in derived else "main"
                with tracer.span(name, **attrs) as rec:
                    out = fn(*a, **kw)
                    if on_result is not None:
                        on_result(rec, out)
                    return out
            return inner
        return wrap

    def merge_result(rec, m):
        if isinstance(m, dict):
            rec["attrs"].update({k: m.get(k) for k in (
                "merge_plan", "applied_events", "rows_written", "probe_sec",
                "write_sec", "footer_sec", "skipped")})

    def cas_result(rec, won):
        rec["attrs"]["won"] = bool(won)

    def refresh_result(rec, m):
        if isinstance(m, dict):
            rec["attrs"]["applied_shards"] = m.get("applied_shards", 0)

    _patch(CDCEngine, "plan_batches", spanned("engine.plan"), undo)
    # the one private method wrapped: run()'s single WAL pass that computes
    # every planned batch's merge-probe statistics has no public entry
    _patch(CDCEngine, "_prefetch_probe_stats", spanned("engine.prefetch"), undo)
    _patch(CDCEngine, "apply_batch", spanned("engine.apply_batch"), undo)
    _patch(IceboxTable, "merge",
           spanned("icebox.merge", on_result=merge_result, table_arg=True), undo)
    _patch(IceboxTable, "compact", spanned("icebox.compact", table_arg=True), undo)
    _patch(IceboxTable, "publish_staged", spanned("icebox.publish_staged"), undo)
    _patch(IceboxTable, "read_changes", spanned("icebox.read_changes"), undo)
    _patch(PosixCommitStore, "put_if_absent",
           spanned("commitstore.put_if_absent", on_result=cas_result), undo)
    _patch(PackedTable, "refresh_from",
           spanned("packing.refresh", on_result=refresh_result), undo)
    _patch(AggView, "refresh_from", spanned("aggview.refresh"), undo)
    _patch(audit, "wap_ingest", spanned("audit.wap_ingest"), undo)
    _patch(audit, "audit_staged", spanned("audit.audit_staged"), undo)
    return undo


def restore(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)
