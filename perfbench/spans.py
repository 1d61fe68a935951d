"""Spans around calls into the package's layers, plus Spark counters.

The benchmark wraps public functions of the package from outside (no
change to the program): each wrapped call records a span with name,
start, end, parent and run id, and sets a Spark job group equal to the
span id, so every Spark job and task can be charged to the innermost
span that started it. Spans stay in memory and are written at exit.

In traced runs each wrapped layer call that returns a DataFrame is
persisted and counted inside its span: Spark is lazy, and without this
the work of a layer would be charged to whichever later call forced it.

Counters come from the Spark event log, which the traced run enables
through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional

GROUP_KEY = "spark.jobGroup.id"
COUNTERS = ("spark_jobs", "tasks", "task_s", "gc_s", "shuffle_write_mb",
            "shuffle_read_mb", "spill_mb", "failed_tasks")
COUNTED_LAYERS = ("pipeline", "operators", "temporal", "roles", "streaming")
_MB = 1e6


class Tracer:
    """Span recorder. ``enabled=False`` turns every call into a no-op
    so untraced runs execute exactly the program's own calls."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self.rep = "setup"
        self.spark = None
        self._stack: List[int] = []
        self._ids = itertools.count(1)
        self._patches: List[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": next(self._ids), "name": name, "run_id": self.run_id,
               "rep": self.rep, "parent": self._stack[-1] if self._stack else None}
        sc = self.spark.sparkContext if self.spark is not None else None
        prev_group = sc.getLocalProperty(GROUP_KEY) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(GROUP_KEY, f"pb-{rec['id']}")
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(GROUP_KEY, prev_group)
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, materialize: str = "",
             after: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` by a spanned call. ``materialize``:
        ``"persist"`` caches and counts the returned DataFrame inside the
        span; ``"count"`` counts it without caching, so the consumer
        recomputes it with its own physical plan (file layout of a later
        write stays as untraced). ``after(rec, result, args, kwargs)``
        adds counts to the span."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name) as rec:
                out = inner(*args, **kwargs)
                if materialize == "persist":
                    out = out.persist()
                if materialize:
                    rec["rows"] = out.count()
                if after is not None:
                    after(rec, out, args, kwargs)
            return out

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, inner))

    def unwrap_all(self) -> None:
        for owner, attr, inner in reversed(self._patches):
            setattr(owner, attr, inner)
        self._patches.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def event_log_conf(log_dir: str) -> Dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _innermost(spans: List[dict], t: float) -> Optional[dict]:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def spark_counters(log_dir: str, spans: List[dict]) -> Dict[int, Dict[str, float]]:
    """Per span id, the Spark counters of the jobs that span started.

    A job belongs to the span whose id is its job group; a job submitted
    without one (a streaming micro-batch runs on Spark's own thread)
    goes to the innermost span open at its submission time."""
    by_id = {s["id"]: s for s in spans}
    stage_span: Dict[int, int] = {}
    out: Dict[int, Dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))

    def owner(props: dict, t_ms: Optional[float]) -> Optional[int]:
        group = (props or {}).get(GROUP_KEY) or ""
        if group.startswith("pb-") and int(group[3:]) in by_id:
            return int(group[3:])
        s = _innermost(spans, t_ms / 1000.0) if t_ms else None
        return s["id"] if s else None

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = owner(ev.get("Properties"), ev.get("Submission Time"))
                    if sid is not None:
                        out[sid]["spark_jobs"] += 1
                        for st in ev.get("Stage IDs", []):
                            stage_span[st] = sid
                elif kind == "SparkListenerStageSubmitted":
                    info = ev.get("Stage Info", {})
                    sid = owner(ev.get("Properties"), info.get("Submission Time"))
                    if sid is not None:
                        stage_span[info.get("Stage ID")] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    c = out[sid]
                    m = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        c["failed_tasks"] += 1
                    c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                    c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / _MB
                    c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    return out
