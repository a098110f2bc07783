"""Per-layer tracing for the traced benchmark run, entirely from outside
the package.

Three sources, none of which instruments the engine itself:

* wrapper spans around the public methods of each layer
  (``versioning.CommitLog``, ``store.FeatureStore``,
  ``streaming.ingest.start_ingest``), installed for traced blocks only;
* the Spark event log (uncompressed, non-rolling), parsed after the
  session stops; jobs are attributed to the benchmark op whose job
  group they carry, or else whose time window holds their submission;
* one ``StreamingQueryListener`` for per-micro-batch phase durations.

Spans carry a parent id; a span's self time is its duration minus the
part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime
from typing import Any, Callable

from pyspark.sql.streaming import StreamingQueryListener


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0.0 when empty."""
    if not values:
        return 0.0
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, lo_c, hi_c = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if hi_c is None or lo > hi_c:
            if hi_c is not None:
                total += hi_c - lo_c
            lo_c, hi_c = lo, hi
        else:
            hi_c = max(hi_c, hi)
    if hi_c is not None:
        total += hi_c - lo_c
    return total


class PhaseListener(StreamingQueryListener):
    """Collects ``durationMs`` of every micro-batch progress event."""

    def __init__(self) -> None:
        self.batches: list[dict[str, Any]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        with self._lock:
            self.batches.append({
                "query_id": str(p.id), "batch_id": p.batchId, "t0": start,
                "rows": p.numInputRows, **dict(p.durationMs),
            })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_span: int | None = None
        self._patched: list[tuple[Any, str, Any]] = []
        self.ops: list[dict[str, Any]] = []

    # -- spans --------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, **attrs: Any) -> dict[str, Any]:
        stack = self._stack()
        # Calls on another thread (a streaming query's foreachBatch)
        # hang under the op that started the query.
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            sid = self._next
            self._next += 1
        span = {"id": sid, "parent": parent, "name": name,
                "t0": time.time(), "t1": None, **attrs}
        stack.append(sid)
        with self._lock:
            self.spans.append(span)
        return span

    def end(self, span: dict[str, Any]) -> None:
        span["t1"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()

    def begin_op(self, label: str, kind: str) -> dict[str, Any]:
        span = self.start(f"op:{kind}", label=label)
        self._op_span = span["id"]
        return span

    def end_op(self, span: dict[str, Any], rows: int, ok: bool) -> None:
        self.end(span)
        self._op_span = None
        self.ops.append({"label": span["label"], "kind": span["name"][3:],
                         "t0": span["t0"], "t1": span["t1"], "rows": rows,
                         "ok": ok, "span": span["id"]})

    # -- wrappers -----------------------------------------------------

    def wrap(self, owner: Any, attr: str, name: str,
             before: Callable[..., dict] | None = None,
             after: Callable[..., dict] | None = None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``before``
        (args, kwargs) and ``after`` (args, kwargs, result) return extra
        span attributes; they run outside the span and record no spans
        of their own, so neither their time nor their calls are counted."""
        orig = getattr(owner, attr)

        def hook(fn, *a):
            self._local.quiet = True
            try:
                return fn(*a)
            finally:
                self._local.quiet = False

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if getattr(self._local, "quiet", False):
                return orig(*args, **kwargs)
            extra = hook(before, args, kwargs) if before is not None else {}
            span = self.start(name, **extra)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.end(span)
            if after is not None:
                span.update(hook(after, args, kwargs, result))
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def install(self) -> None:
        """Wrap every layer's public entry points named in README.md."""
        from blackroad_feature_store_spark import versioning
        from blackroad_feature_store_spark.store import FeatureStore
        from blackroad_feature_store_spark.streaming import ingest

        def group_files(store, group_id) -> list[str]:
            prefix = f"group_id={group_id}/" if group_id else ""
            log = versioning.CommitLog(os.path.join(store.base_path, "_versions"))
            return [e["path"] for e in log.live_entries() if e["path"].startswith(prefix)]

        def group_arg(args, kwargs):
            return kwargs.get("group_id", args[1] if len(args) > 1 else None)

        def read_files(args, kwargs, df):
            return {"files": len(df.inputFiles()),
                    "candidates": len(group_files(args[0], group_arg(args, kwargs)))}

        def compact_input(args, kwargs):
            root = os.path.join(args[0].base_path, "entity_records")
            return {"bytes": sum(os.path.getsize(os.path.join(root, f))
                                 for f in group_files(args[0], group_arg(args, kwargs)))}

        for attr in ("live_entries", "read", "commit"):
            self.wrap(versioning.CommitLog, attr, f"versioning.{attr}")
        self.wrap(FeatureStore, "records_df", "store.records_df", after=read_files)
        self.wrap(FeatureStore, "compact_records", "store.compact_records",
                  before=compact_input)
        for attr in ("get_features", "point_in_time_join", "statistics",
                     "write_records_df", "write_features", "maybe_compact"):
            self.wrap(FeatureStore, attr, f"store.{attr}")
        self.wrap(ingest, "start_ingest", "streaming.start_ingest")

    # -- summaries ----------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id → self time in ms (duration minus child coverage)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            if s["t1"] is None:
                continue
            kids = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                    for c in children[s["id"]] if c["t1"] is not None]
            out[s["id"]] = (s["t1"] - s["t0"] - covered(kids)) * 1000.0
        return out

    def span_table(self) -> dict[str, dict[str, float]]:
        selft = self.self_times()
        table: dict[str, dict[str, float]] = defaultdict(
            lambda: {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        for s in self.spans:
            if s["t1"] is None:
                continue
            row = table[s["name"]]
            row["count"] += 1
            row["total_ms"] += (s["t1"] - s["t0"]) * 1000.0
            row["self_ms"] += selft[s["id"]]
        return dict(table)

    def durations(self, name: str) -> list[float]:
        return [(s["t1"] - s["t0"]) * 1000.0 for s in self.spans
                if s["name"] == name and s["t1"] is not None]


# -- event log ----------------------------------------------------------

def parse_event_log(log_dir: str) -> dict[str, Any]:
    """Jobs (submit/complete ms, job group, stage ids) and per-task
    metrics from the single uncompressed event-log file in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict[str, Any]] = {}
    tasks: list[dict[str, Any]] = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"], "end": None,
                    "stages": ev["Stage IDs"],
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                })
    return {"jobs": jobs, "tasks": tasks}


def attribute(log: dict[str, Any], ops: list[dict[str, Any]]
              ) -> tuple[dict[str, dict[str, float]], dict[int, str]]:
    """Per-op Spark totals keyed by op label (jobs, Σ job ms, covered ms
    = union of job intervals, tasks, shuffle bytes, input records,
    spill, GC ms), and the job id → op label map."""
    by_label = {o["label"]: o for o in ops}
    stage_job: dict[int, int] = {}
    job_op: dict[int, str] = {}
    for jid, j in sorted(log["jobs"].items()):
        for s in j["stages"]:
            stage_job.setdefault(s, jid)
        if j["group"] in by_label:
            job_op[jid] = j["group"]
            continue
        t = j["start"] / 1000.0
        for o in ops:
            if o["t0"] <= t <= o["t1"]:
                job_op[jid] = o["label"]
                break
    out: dict[str, dict[str, float]] = {
        o["label"]: defaultdict(float) for o in ops}
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, label in job_op.items():
        j = log["jobs"][jid]
        end = j["end"] if j["end"] is not None else j["start"]
        out[label]["jobs"] += 1
        out[label]["job_ms"] += end - j["start"]
        intervals[label].append((j["start"], end))
    for label, ivs in intervals.items():
        out[label]["covered_ms"] = covered(ivs)
    for t in log["tasks"]:
        label = job_op.get(stage_job.get(t["stage"], -1))
        if label is None:
            continue
        row = out[label]
        row["tasks"] += 1
        for k in ("shuffle_read", "shuffle_write", "input_records", "spill", "gc_ms"):
            row[k] += t[k]
    return out, job_op


def stage_skew(log: dict[str, Any], stages: set[int]) -> float:
    """Worst max/median task time over the given stages (≥2 tasks)."""
    per: dict[int, list[float]] = defaultdict(list)
    for t in log["tasks"]:
        if t["stage"] in stages:
            per[t["stage"]].append(max(t["ms"], 1))
    worst = 1.0
    for ms in per.values():
        if len(ms) >= 2:
            worst = max(worst, max(ms) / statistics.median(ms))
    return worst
