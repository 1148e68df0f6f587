"""In-memory span tracer for the benchmark's traced run.

A span wraps one call from the benchmark into a layer of the package.
While it is open, its Spark jobs run under their own job group
(``sc.setJobGroup``), so the jobs it caused can be counted; executor
totals from Spark's status store (task count, task time, GC time,
shuffle and input bytes) are read at both ends and the difference is
the span's share. Nested spans subtract from their parent, so every
counter is reported twice: inclusive and self (exclusive).

Spans are kept in memory and written out once, when the run ends.
Executor counters are process-wide, so spans are only exact when one
thread at a time runs Spark work; the traced phases run that way.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

COUNTERS = (
    "tasks",
    "task_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
)


def executor_totals(sc) -> dict[str, int]:
    """Sum of the status store's per-executor totals.

    Waits for the listener bus first, so tasks that already finished
    are counted before the read.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(True)
    totals = dict.fromkeys(COUNTERS, 0)
    for i in range(execs.size()):
        e = execs.apply(i)
        totals["tasks"] += e.totalTasks()
        totals["task_ms"] += e.totalDuration()
        totals["gc_ms"] += e.totalGCTime()
        totals["shuffle_write_bytes"] += e.totalShuffleWrite()
        totals["shuffle_read_bytes"] += e.totalShuffleRead()
        totals["input_bytes"] += e.totalInputBytes()
    return totals


def force(df) -> None:
    """Execute a lazy frame completely without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Collects spans; a disabled tracer makes ``span`` a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        """Time a call into ``layer`` (``None``: a grouping span that
        belongs to no layer, such as one client request)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            "attrs": {},
        }
        group = f"perfbench-span-{rec['id']}"
        before = executor_totals(self.sc)
        self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            after = executor_totals(self.sc)
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            rec["incl"] = {k: after[k] - before[k] for k in COUNTERS}
            if parent is not None:
                self.sc.setJobGroup(
                    f"perfbench-span-{parent['id']}", parent["name"]
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def layer_totals(self, layers) -> dict[str, dict[str, float]]:
        """Per layer: ``s`` (time inside the layer's outermost spans),
        ``self_s`` and ``jobs`` plus every executor counter, all with
        child spans' shares taken out."""
        by_id = {s["id"]: s for s in self.spans}
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {
            layer: {"s": 0.0, "self_s": 0.0, "jobs": 0, **dict.fromkeys(COUNTERS, 0)}
            for layer in layers
        }
        for s in self.spans:
            layer = s["layer"]
            if layer not in out:
                continue
            kids = children.get(s["id"], [])
            dur = s["end"] - s["start"]
            agg = out[layer]
            agg["self_s"] += dur - sum(k["end"] - k["start"] for k in kids)
            agg["jobs"] += s["jobs"]
            for c in COUNTERS:
                agg[c] += s["incl"][c] - sum(k["incl"][c] for k in kids)
            # ``s`` counts only spans with no ancestor in the same layer
            p = by_id.get(s["parent"])
            while p is not None and p["layer"] != layer:
                p = by_id.get(p["parent"])
            if p is None:
                agg["s"] += dur
        return out

    def dump(self, path: str, extra: dict) -> None:
        """Write every span (times relative to the first) as JSON."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)
