"""Tracing for the benchmark's traced run.

Spans are opened by the benchmark itself around each call into a library
module; each span sets its own Spark job group, so every job, stage and
task in the Spark event log can be charged to the span that started it.
Spans stay in memory and are written out with the run record.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# Python-boundary accumulables (ms and bytes) and the metric each feeds.
_PYTHON_ACCUMS = {
    "time to run Python workers": "python.run_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to start Python workers": "python.start_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


class Tracer:
    """Records spans and tags the jobs they start.  With ``sc=None`` the
    tracer is off and :meth:`span` costs nothing."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.unit: int | None = None
        self._stack: list[dict] = []

    @property
    def on(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, layer: str):
        if self.sc is None:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"sp{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "unit": self.unit,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every rolling ``eventlog_v2_*`` directory under
    ``log_dir``, in order.  Only the ``events_<n>_*`` files hold events."""
    events = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        for path in sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def group_stats(events: list[dict]) -> dict[str | None, Counter]:
    """Per job group: jobs, stages and task totals (times in ms)."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    submitted: dict[int, int] = {}
    stats: dict[str | None, Counter] = defaultdict(Counter)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = group
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
            stats[group]["exec.jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            submitted[info["Stage ID"]] = info.get("Submission Time") or 0
            stats[job_group.get(stage_job.get(info["Stage ID"]))]["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            s = stats[job_group.get(stage_job.get(e["Stage ID"]))]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            s["exec.tasks"] += 1
            s["exec.task_run_ms"] += m.get("Executor Run Time", 0)
            s["exec.task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            s["exec.gc_ms"] += m.get("JVM GC Time", 0)
            s["exec.task_wait_ms"] += max(0, info["Launch Time"] - submitted.get(e["Stage ID"], info["Launch Time"]))
            s["exec.input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            s["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            s["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s["exec.shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            s["exec.fetch_wait_ms"] += read.get("Fetch Wait Time", 0)
            s["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            s["result_bytes"] += m.get("Result Size", 0)
            for acc in info.get("Accumulables", []):
                name = _PYTHON_ACCUMS.get(acc.get("Name"))
                if name is not None:
                    s[name] += float(acc.get("Update") or 0)
    return stats


def _subtree(spans: list[dict]) -> dict[str, list[str]]:
    """Span id -> ids of the span and all its descendants."""
    children = defaultdict(list)
    for sp in spans:
        children[sp["parent"]].append(sp["id"])
    out = {}

    def walk(sid):
        ids = [sid]
        for c in children[sid]:
            ids.extend(walk(c))
        return ids

    for sp in spans:
        out[sp["id"]] = walk(sp["id"])
    return out


def layer_metrics(spans: list[dict], stats: dict, units: int, wall_s: float, cores: int) -> dict[str, float]:
    """Per-unit layer totals from the traced units' spans and job stats.

    A layer's time is the summed duration of its spans; a layer's jobs
    are those started inside its spans, children included (a gate run
    inside a mart build counts as that build's eager job too).
    """
    tree = _subtree(spans)
    total: Counter = Counter()

    def charged(sp, key="exec.jobs"):
        return sum(stats.get(i, Counter())[key] for i in tree[sp["id"]])

    for sp in spans:
        dur = sp["end"] - sp["start"]
        layer = sp["layer"]
        if layer == "ingestion":
            total["ingestion.feed_s"] += dur
            total["ingestion.rows"] += sp.get("rows", 0)
        elif layer == "gate":
            total["plans.gate_s"] += dur
            total["plans.gate_jobs"] += charged(sp)
        elif layer == "sinks":
            total["sinks.write_s"] += dur
            total["sinks.bytes_written"] += sp.get("bytes", 0)
            total["sinks.files_written"] += sp.get("files", 0)
        elif layer in ("marts", "queries"):
            total[f"{layer}.build_s"] += dur
            total[f"{layer}.eager_jobs"] += charged(sp)
            if layer == "queries":
                total["queries.result_bytes"] += charged(sp, "result_bytes")
        for k, v in sp.get("counters", {}).items():
            total[k] += v
    # streaming jobs run under the query's own job group (its run id)
    ids = {sp["id"] for sp in spans} | {g for sp in spans for g in sp.get("groups", ())}
    for group, s in stats.items():
        if group in ids:
            for k, v in s.items():
                if k.startswith(("exec.", "python.")):
                    total[k] += v
    out = {k: v / units for k, v in total.items()}
    out["exec.core_busy_ratio"] = total["exec.task_run_ms"] / (cores * wall_s * 1000.0)
    return out
