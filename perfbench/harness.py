"""Measurement plumbing shared by the workloads: spans with per-span Spark
counters, latency summaries, peak memory and host provenance.

Spans live in memory and are written out as JSONL when the run ends. A span
sets its own Spark job group, so the jobs it launched can be read back from
the status store right after it closes (the store keeps only the newest
~1000 jobs and stages, so counters are harvested per span, not at the end).
With tracing off no job group is set and nothing is harvested.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

COUNTERS = (
    "jobs", "tasks", "failed_tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes",
)


class Tracer:
    """Span recorder. ``span(name)`` nests; each span's counters cover only
    the jobs launched while it was the innermost open span."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.harvest_s = 0.0
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        self._seq = 0
        if enabled:
            jvm = self._sc._jvm
            self._store = self._sc._jsc.sc().statusStore()
            self._bus = self._sc._jsc.sc().listenerBus()
            self._no_tasks = jvm.java.util.ArrayList()
            self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._seq,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else self._seq,
            "name": name,
            "attrs": attrs,
        }
        group = f"perfbench-{self._seq}"
        self._stack.append(rec)
        self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._harvest(group))
            if parent is not None:
                self._sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def _harvest(self, group: str) -> dict:
        t0 = time.perf_counter()
        # the status store is fed by the listener bus asynchronously: drain
        # it first or the newest job's stages can still read partial counts
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                attempts = self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                )
                for i in range(attempts.length()):
                    sd = attempts.apply(i)
                    out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    out["failed_tasks"] += sd.numFailedTasks()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["spill_bytes"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    )
        self.harvest_s += time.perf_counter() - t0
        return out

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- summaries ----------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def roots(self, prefix: str = "") -> list[dict]:
        return [
            s for s in self.spans
            if s["parent"] is None and s["name"].startswith(prefix)
        ]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of time not covered by child spans."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = (
                    covered.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - covered.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def tree_counters(self, root: dict) -> dict:
        """Counters of ``root`` plus every span under it."""
        ids = {root["id"]}
        total = {k: root[k] for k in COUNTERS}
        # a span is appended when it closes, after all of its children, so
        # walking backwards meets every parent before its children
        for s in reversed(self.spans):
            if s["parent"] in ids:
                ids.add(s["id"])
                for k in COUNTERS:
                    total[k] += s[k]
        return total


def mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def duration_ms(spans) -> float:
    return mean((s["end"] - s["start"]) * 1e3 for s in spans)


def latency_summary(samples_s: list[float]) -> dict:
    """Median and tail of a latency sample, in ms. The tail is the highest
    percentile with at least ten samples beyond it; below eleven samples
    there is none, and the maximum is reported with ``tail_pct`` 100."""
    xs = sorted(samples_s)
    n = len(xs)
    if n == 0:
        return {"p50_ms": 0.0, "tail_ms": 0.0, "tail_pct": None, "n": 0}
    if n >= 11:
        tail, pct = xs[n - 11], 100.0 * (n - 10) / n
    else:
        tail, pct = xs[-1], 100.0
    return {
        "p50_ms": statistics.median(xs) * 1e3,
        "tail_ms": tail * 1e3,
        "tail_pct": round(pct, 2),
        "n": n,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def peak_rss_mb(spark) -> float:
    """Driver Python process plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def host_probe() -> dict:
    """Load average plus a 0.25 s single-thread spin calibration (iterations
    per microsecond of a fixed integer loop; lower = busier host). Same
    calibration as the frozen bench.py records, so the two can be read
    side by side."""
    la = os.getloadavg()
    t0 = time.perf_counter()
    n = x = 0
    while time.perf_counter() - t0 < 0.25:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 10_000
    return {
        "loadavg": [round(v, 2) for v in la],
        "spin_mops": round(n / (time.perf_counter() - t0) / 1e6, 2),
    }


def git_head(root: str) -> str | None:
    """HEAD commit of the checkout, read from .git without running git;
    None when the checkout is not a git repository."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None
