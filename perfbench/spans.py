"""Spans around calls into the engine's modules, and the Spark event
log folded per layer tag.

Every traced call is bracketed here, in the benchmark's own files: the
span records name, start, end, the enclosing batch span and the run id,
plus rows in and rows out. Before the call the job description is set
to ``layer:<module>``, so the event log can attribute task metrics to
the layer (stage call sites alone read ``save at
NativeMethodAccessorImpl.java:0`` for every layer). Spans stay in
memory until ``Tracer.dump``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None, rows_in=None):
        """One span. ``layer`` tags the Spark jobs started inside it;
        the body may set ``rec["rows_out"]``."""
        sc = self.spark.sparkContext
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "rows_in": rows_in,
               "rows_out": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = sc.getLocalProperty("spark.job.description")
        if layer is not None:
            sc.setJobDescription(f"layer:{layer}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if layer is not None:
                sc.setJobDescription(prev)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its children cover (children
        are sequential here, so their durations add)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.by_name(name))

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": spans, **extra},
                      fh, indent=1, default=str)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics per ``layer:<name>`` job description, from the
    uncompressed, non-rolling event log files in ``log_dir``.
    Returns {layer: {cpu_s, run_s, shuffle_bytes, spill_bytes, jobs}},
    plus ``_streaming_jobs``: the job count of every streaming batch,
    keyed ``<query id>/<batch id>``."""
    files = sorted(os.path.join(log_dir, f) for f in os.listdir(log_dir))
    stage_tag: dict[int, str] = {}
    out: dict[str, dict] = {}
    streaming_jobs: dict[str, int] = {}

    def acc(tag: str) -> dict:
        return out.setdefault(tag, {"cpu_s": 0.0, "run_s": 0.0,
                                    "shuffle_bytes": 0, "spill_bytes": 0,
                                    "jobs": 0})

    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    tag = desc[len("layer:"):] if desc.startswith("layer:") \
                        else None
                    batch = props.get("streaming.sql.batchId")
                    if batch is not None:
                        q = props.get("sql.streaming.queryId", "")
                        key = f"{q}/{batch}"
                        streaming_jobs[key] = streaming_jobs.get(key, 0) + 1
                    if tag is None:
                        continue
                    acc(tag)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_tag[sid] = tag
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    tag = stage_tag.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if tag is None or not m:
                        continue
                    a = acc(tag)
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["shuffle_bytes"] += (m.get("Shuffle Write Metrics", {})
                                           .get("Shuffle Bytes Written", 0))
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    out["_streaming_jobs"] = streaming_jobs
    return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the gateway's child process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
