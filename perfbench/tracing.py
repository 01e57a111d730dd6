"""Spans around the benchmark's calls into each layer, and the per-layer
ledger folded from them.

A span records name, start, end and parent. Every Spark job started
inside a span runs in a job group named after the innermost open span,
so jobs and tasks come from the status tracker, and executor CPU,
shuffle writes and spill from the session's event log (uncompressed,
one JSON object per line). Spans stay in memory until the ledger is
built after the run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from procstat import tree_cpu_s

LAYERS = ("doc_assembly", "udfs.shingles", "udfs.signatures", "lsh",
          "simhash", "verify", "connected_components", "annotate",
          "checkpoint", "pipeline")
LAYER_FIELDS = ("wall_s", "rows_out", "jobs", "tasks", "failed_tasks",
                "executor_cpu_s", "python_cpu_s", "shuffle_write_mb",
                "spill_mb")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.persisted = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": f"perfbench-{len(self.spans)}-{name}", "name": name,
               "parent": self._open[-1]["id"] if self._open else None,
               "rows": 0, "py_cpu0": tree_cpu_s(python_workers_only=True)}
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py_cpu1"] = tree_cpu_s(python_workers_only=True)
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1]["id"], self._open[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def materialize(self, name: str, build, persist: bool = True,
                    rows: bool = True):
        """Runs ``build()`` inside a span of layer ``name`` and forces its
        output; with ``rows`` its row count counts as the layer's output.
        Persisted outputs are released by ``release``."""
        with self.span(name) as s:
            df = build()
            if persist:
                df = df.persist()
                self.persisted.append(df)
            n = df.count()
            s["rows"] = n if rows else 0
        return df

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    def total_s(self) -> float:
        return (max(s["end"] for s in self.spans)
                - min(s["start"] for s in self.spans))

    def _self_times(self) -> dict[str, tuple[float, float]]:
        """span id -> (wall, python CPU) minus what its children cover."""
        out = {s["id"]: [s["end"] - s["start"], s["py_cpu1"] - s["py_cpu0"]]
               for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]][0] -= s["end"] - s["start"]
                out[s["parent"]][1] -= s["py_cpu1"] - s["py_cpu0"]
        return {k: (v[0], v[1]) for k, v in out.items()}

    def job_stats(self) -> dict[str, tuple[int, int, int]]:
        """span id -> (jobs, tasks, failed tasks) from the status tracker;
        call before the session stops. A stage that several jobs list is
        counted once, for the first span that listed it."""
        tracker = self.sc.statusTracker()
        owner: dict[int, str] = {}
        jobs: dict[str, int] = {}
        for s in self.spans:
            ids = sorted(tracker.getJobIdsForGroup(s["id"]))
            jobs[s["id"]] = len(ids)
            for j in ids:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else ()):
                    owner.setdefault(st, s["id"])
        tasks = defaultdict(lambda: [0, 0])
        for st, sid in owner.items():
            info = tracker.getStageInfo(st)
            if info is not None:
                tasks[sid][0] += info.numCompletedTasks
                tasks[sid][1] += info.numFailedTasks
        return {k: (jobs[k], *tasks[k]) for k in jobs}

    def ledger(self, job_stats: dict, task_metrics: dict) -> dict[str, dict]:
        """layer -> LAYER_FIELDS, summed over the layer's spans, each
        span counting its self time. ``task_metrics`` is
        ``fold_event_log`` of the session's event log."""
        selft = self._self_times()
        out = {layer: dict.fromkeys(LAYER_FIELDS, 0) for layer in LAYERS}
        for s in self.spans:
            row = out[s["name"]]
            m = task_metrics.get(s["id"], {})
            jobs, tasks, failed = job_stats[s["id"]]
            row["wall_s"] += selft[s["id"]][0]
            row["python_cpu_s"] += selft[s["id"]][1]
            row["rows_out"] += s["rows"]
            row["jobs"] += jobs
            row["tasks"] += tasks
            row["failed_tasks"] += failed
            row["executor_cpu_s"] += m.get("executor_cpu_s", 0)
            row["shuffle_write_mb"] += m.get("shuffle_write_mb", 0)
            row["spill_mb"] += m.get("spill_mb", 0)
        return out


def fold_event_log(path: Path) -> dict[str, dict]:
    """job group -> executor CPU seconds, shuffle MB written and MB
    spilled to disk, summed over the tasks of the stages it submitted."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            if '"SparkListenerStageSubmitted"' in line[:60]:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                stage_group.setdefault(ev["Stage Info"]["Stage ID"],
                                       props.get("spark.jobGroup.id"))
            elif '"SparkListenerTaskEnd"' in line[:60]:
                ev = json.loads(line)
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                row = out[group]
                row["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                row["shuffle_write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20)
                row["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
    return out
