"""In-memory spans and counters recorded from the benchmark's side.

Spans wrap the benchmark's own calls into the engine's public
functions; nothing inside the package is instrumented.  A span holds
its name, layer, start, end, parent span and operation id.  When the
tracer is disabled every call is a no-op, so the untraced run pays for
nothing but a context-manager entry.

``JobCounter`` reads job and task counts for one operation through
the public status tracker, keyed by the job group the benchmark set.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from collections import defaultdict

# layers whose self time the traced run reports (session start is timed
# on its own, as session.start_s)
LAYERS = (
    "sources",
    "documents",
    "inference",
    "dedup",
    "serving",
    "changefeed",
    "plans",
    "optimizer",
)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Span:
    """What ``Tracer.span`` yields; ``seconds`` is set when it closes."""

    seconds = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.op = ""

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = Span()
        if not self.enabled:
            yield span
            return
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "op": self.op,
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        try:
            yield span
        finally:
            rec["end"] = time.perf_counter()
            span.seconds = rec["end"] - rec["start"]
            self._stack.pop()
            self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer spent in that layer's spans and not in
        their child spans (children run inside the parent, one thread,
        so their durations never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["layer"] in out:
                out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(s) + "\n")


def wrap_public(module, fn_name: str, tracer: Tracer, layer: str, sink=None):
    """Replace ``module.fn_name`` with a wrapper that records a span per
    call and, when ``sink`` is a list, appends the call's result to it.
    Callers inside the package that look the function up through the
    module at call time go through the wrapper, which is how calls the
    package makes internally are reached without editing it.  Returns
    an undo callable."""
    orig = getattr(module, fn_name)

    def wrapper(*args, **kwargs):
        with tracer.span(f"{layer}.{fn_name}", layer):
            out = orig(*args, **kwargs)
        if sink is not None:
            sink.append(out)
        return out

    setattr(module, fn_name, wrapper)
    return lambda: setattr(module, fn_name, orig)


class JobCounter:
    """Spark jobs and tasks per operation, via job groups and the
    public ``statusTracker``."""

    def __init__(self, sc):
        self.sc = sc
        self._n = itertools.count()

    @contextlib.contextmanager
    def group(self):
        """Yields a dict that holds ``jobs`` and ``tasks`` once the block
        has exited."""
        gid = f"perfbench-{next(self._n)}"
        self.sc.setJobGroup(gid, gid)
        box = {"group": gid}
        try:
            yield box
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
        box["jobs"], box["tasks"] = self._count(gid)

    def _count(self, gid: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        deadline = time.monotonic() + 5.0
        while True:
            jobs = st.getJobIdsForGroup(gid)
            infos = [st.getJobInfo(j) for j in jobs]
            done = all(i is not None and i.status != "RUNNING" for i in infos)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.01)  # listener bus lags the action by a few ms
        tasks = 0
        for info in infos:
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
        return len(jobs), tasks


def peak_rss_mb(root_pid: int) -> float:
    """Sum of ``VmHWM`` over ``root_pid`` and all its live descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
