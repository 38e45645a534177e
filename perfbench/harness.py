"""Shared machinery of the benchmark: environment, sampling, statistics
and the span tracer that attributes Spark jobs to layers.

Everything here observes the engine from outside. Spans are opened by
the workload modules around their own calls into goetl_spark; a span
sets the Spark job group to its id, so the event log written during a
traced run names, for every job, the span that launched it. Streaming
micro-batch jobs carry their query's ``runId`` as job group instead;
the tracer maps each ``runId`` back to the span that started the query.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

# Layers as the benchmark's spans name them. Every per-layer metric of
# BENCHMARK.json is derived from spans with one of these names.
LAYERS = (
    "queries", "sources", "functions", "operators.join",
    "operators.groupby", "plans", "stats", "quality", "sinks",
    "operators.dedup", "operators.bloom", "operators.similarity",
    "streaming.indexes", "streaming.warehouse",
)

MB = 1024.0 * 1024.0


# -- machine -----------------------------------------------------------------

def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples, in %."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return 100.0 * delta[7] / total if total > 0 else 0.0


class RssSampler(threading.Thread):
    """Peak resident set size of this process and all its descendants
    (the Python driver, the JVM and the Python workers), sampled from
    /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(stat.split("/")[2])
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / MB


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, hidden and marker files excluded."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                continue
            files += 1
    return total, files


# -- statistics --------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile that has at least ten samples beyond it,
    with its label. Below eleven samples no percentile qualifies; the
    maximum is returned and labelled as such."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], f"max of {n}"
    return s[n - 11], f"p{100.0 * (n - 10) / n:.0f} of {n}"


# -- tracing -----------------------------------------------------------------

class Tracer:
    """Spans around layer calls, plus the event-log switch.

    Spans are recorded only while the tracer is active, so untraced
    measurements run the engine alone. A traced run (``enabled``) starts
    Spark with the event log on and calls :meth:`pause` right after
    start-up: the log's listener stays detached while set-up and
    untraced ops run. :meth:`resume` re-attaches it before each traced
    op group and :meth:`pause` detaches it again (draining its queue).
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.run_ids: dict[str, str] = {}
        self.streams: list[dict] = []
        self.counters: dict[str, float] = {}
        self.sc = None
        self._listener = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def count(self, name: str, n: float) -> None:
        """Add to a counter measured by the benchmark itself."""
        if self.active:
            self.counters[name] = self.counters.get(name, 0) + n

    def _bus(self):
        return self.sc._jsc.sc().listenerBus()

    def pause(self) -> None:
        if self.enabled:
            self._listener = self.sc._jsc.sc().eventLogger().get()
            self._bus().removeListener(self._listener)
            self.active = False

    def resume(self) -> None:
        if self.enabled:
            self._bus().addToEventLogQueue(self._listener)
            self.active = True

    @contextmanager
    def span(self, layer: str):
        if not self.active:
            yield
            return
        rec = {"id": f"pb{len(self.spans)}", "layer": layer,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "t0": time.time() * 1000.0}
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["id"], layer)
        try:
            yield
        finally:
            rec["t1"] = time.time() * 1000.0
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["id"],
                                    self.stack[-1]["layer"])
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)

    def run_stream(self, layer: str, start_fn, out_dir: str) -> None:
        """Start a streaming query inside a ``layer`` span and wait for
        it. When tracing, map its runId to the span and keep its
        progress reports and the bytes it added under ``out_dir``."""
        with self.span(layer):
            if self.active:
                before = dir_bytes(out_dir)
            t_start = time.time() * 1000.0
            sq = start_fn()
            if self.active:
                self.run_ids[str(sq.runId)] = self.stack[-1]["id"]
            try:
                sq.awaitTermination()
            finally:
                sq.stop()
            if self.active:
                after = dir_bytes(out_dir)
                self.streams.append({
                    "layer": layer, "t_start": t_start,
                    "progress": list(sq.recentProgress),
                    "out_bytes": after[0] - before[0],
                    "out_files": after[1] - before[1]})


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    pass
    return events


_PY_SCOPES = ("Python", "InPandas", "InArrow")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _iso_ms(stamp: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


def layer_metrics(tracer: Tracer, events: list[dict], n_ops: int) -> dict:
    """Per-layer counters of the traced ops, named ``<layer>.<counter>``."""
    span_of = {s["id"]: s for s in tracer.spans}
    group_to_span = {**{k: k for k in span_of}, **tracer.run_ids}

    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    stages: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "group": props.get("spark.jobGroup.id"),
                "desc": props.get("spark.job.description") or props.get("callSite.short"),
                "t0": e["Submission Time"], "t1": None}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["t1"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_group[info["Stage ID"]] = (
                e.get("Properties") or {}).get("spark.jobGroup.id")
            scopes = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", []))
            stages.setdefault(info["Stage ID"], _new_counts())["python"] = any(
                p in scopes for p in _PY_SCOPES)
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], _new_counts())
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Disk Bytes Spilled", 0)
            st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)

    per_layer: dict[str, dict] = {L: _new_counts() for L in LAYERS}
    span_jobs: dict[str, list[tuple[float, float]]] = {}
    unattributed = 0
    durations = []
    for j in jobs.values():
        sid = group_to_span.get(j["group"])
        if sid is None:
            unattributed += 1
            print(f"perfbench: job {j['id']} (group {j['group']}) has no span: "
                  f"{j['desc']}", file=sys.stderr)
            continue
        t1 = j["t1"] if j["t1"] is not None else j["t0"]
        durations.append(t1 - j["t0"])
        span_jobs.setdefault(sid, []).append((j["t0"], t1))
        per_layer[span_of[sid]["layer"]]["jobs"] += 1
    for stage_id, st in stages.items():
        sid = group_to_span.get(stage_group.get(stage_id))
        if sid is None:
            continue
        acc = per_layer[span_of[sid]["layer"]]
        acc["stages"] += 1
        for k in _TASK_COUNTS:
            acc[k] += st[k]
        if st["python"]:
            acc["py_ms"] += st["run_ms"]

    # driver time: a span's own wall time, minus its child spans, minus
    # the union of its own jobs' intervals
    child_ms: dict[str, float] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    for s in tracer.spans:
        own = [(max(a, s["t0"]), min(b, s["t1"]))
               for a, b in span_jobs.get(s["id"], []) if b > s["t0"] and a < s["t1"]]
        self_ms = s["t1"] - s["t0"] - child_ms.get(s["id"], 0.0)
        per_layer[s["layer"]]["driver_ms"] += max(self_ms - _union_ms(own), 0.0)

    out: dict[str, float] = {}
    for layer, acc in per_layer.items():
        out[f"{layer}.driver_s"] = acc["driver_ms"] / 1000.0
        out[f"{layer}.jobs"] = acc["jobs"]
        out[f"{layer}.stages"] = acc["stages"]
        out[f"{layer}.tasks"] = acc["tasks"]
        out[f"{layer}.exec_run_s"] = acc["run_ms"] / 1000.0
        out[f"{layer}.exec_cpu_s"] = acc["cpu_ns"] / 1e9
        out[f"{layer}.gc_s"] = acc["gc_ms"] / 1000.0
        out[f"{layer}.py_stage_s"] = acc["py_ms"] / 1000.0
        out[f"{layer}.input_mb"] = acc["input"] / MB
        out[f"{layer}.output_mb"] = acc["output"] / MB
        out[f"{layer}.shuffle_read_mb"] = acc["shuffle_read"] / MB
        out[f"{layer}.shuffle_write_mb"] = acc["shuffle_write"] / MB
        out[f"{layer}.spill_mb"] = acc["spill"] / MB

    for layer in ("streaming.indexes", "streaming.warehouse"):
        runs = [r for r in tracer.streams if r["layer"] == layer]
        prog = [p for r in runs for p in r["progress"]]

        def dur(*keys):
            return float(sum(p["durationMs"].get(k, 0) for p in prog for k in keys))

        out[f"{layer}.triggers"] = len(prog)
        out[f"{layer}.trigger_ms"] = dur("triggerExecution")
        out[f"{layer}.add_batch_ms"] = dur("addBatch")
        out[f"{layer}.commit_ms"] = dur("walCommit", "commitOffsets")
        out[f"{layer}.plan_ms"] = dur("latestOffset", "getBatch", "queryPlanning")
        out[f"{layer}.start_ms"] = float(sum(
            _iso_ms(r["progress"][0]["timestamp"]) - r["t_start"]
            for r in runs if r["progress"]))
        out[f"{layer}.output_mb"] = sum(r["out_bytes"] for r in runs) / MB
        out[f"{layer}.files"] = sum(r["out_files"] for r in runs)

    out["sinks.files"] = 0
    out.update(tracer.counters)
    out["spark.job_p50_ms"] = statistics.median(durations) if durations else 0.0
    out["spark.jobs_per_op"] = len(durations) / max(n_ops, 1)
    out["trace.unattributed_jobs"] = unattributed
    return out


_TASK_COUNTS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                "shuffle_write", "spill", "input", "output")


def _new_counts() -> dict:
    """Counters of one stage's tasks, or of one layer's spans."""
    return {"python": False, "driver_ms": 0.0, "jobs": 0, "stages": 0,
            "py_ms": 0, **dict.fromkeys(_TASK_COUNTS, 0)}
