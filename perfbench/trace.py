"""Spans around layer calls, and the per-layer split they give.

A span records name, layer, start, end, parent and run id, plus /proc CPU
readings of the process tree at both boundaries. Spans are kept in memory
and turned into metrics once the run ends. With tracing on, every span
also tags the Spark jobs it starts with its own job group, and the
session writes an uncompressed event log; `layer_metrics` joins the two
(job group -> jobs -> stages) to split each layer's time into stage time
and driver time. With tracing off a span only keeps its wall time, which
the end-to-end numbers need anyway.
"""

from __future__ import annotations

import glob
import json
import time
import uuid
from contextlib import contextmanager

from perfbench import procfs

LAYERS = (
    "session",
    "sources",
    "operators.tiling",
    "operators.spatial_join",
    "operators.dedup",
    "operators.rank",
    "operators.graph",
    "operators.similarity",
    "plans.pipeline",
    "plans.manifest",
    "plans.webdataset",
)
LAYER_FIELDS = (
    "s",
    "stage_s",
    "driver_s",
    "jvm_cpu_s",
    "py_worker_cpu_s",
    "driver_py_cpu_s",
    "shuffle_mb",
    "n_stages",
)
COUNTS = (
    "operators.tiling.tiles",
    "operators.spatial_join.rows",
    "sources.quarantined",
    "operators.dedup.pair_yield",
    "plans.webdataset.bytes_per_tile",
    "plans.pipeline.resume_skipped",
)
TOTALS = ("spark.spill_mb", "spark.gc_s", "spark.task_fail_frac", "trace.pass_s", "trace.overhead_s")
_IDLE_GROUP = "perfbench-idle"


def per_layer_names(queries: tuple[str, ...]) -> list[str]:
    """Every per-layer metric a traced run prints, in a stable order."""
    return (
        [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
        + [f"query.{q}.s" for q in queries]
        + list(COUNTS)
        + list(TOTALS)
    )


def unit_of(name: str) -> str:
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_per_tile"):
        return "B"
    if name.endswith(("_frac", "_yield")):
        return "ratio"
    return "count"


class Tracer:
    def __init__(self, traced: bool):
        self.traced = traced
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # SparkContext; set once a session exists

    @contextmanager
    def span(self, layer: str | None, name: str):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "parent": parent,
            "run_id": self.run_id,
            "layer": layer,
            "name": name,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.traced:
            rec["cpu0"] = procfs.cpu_split()
            if self.sc is not None:
                self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.traced:
                rec["cpu1"] = procfs.cpu_split()
                if self.sc is not None:
                    group = self._stack[-1]["id"] if self._stack else _IDLE_GROUP
                    self.sc.setJobGroup(group, group)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _acc(info: dict) -> dict[str, float]:
    return {a["Name"]: float(a["Value"]) for a in info.get("Accumulables", []) if "Value" in a}


def read_event_log(log_dir: str) -> dict:
    """Stages (with interval and metrics) per job group, plus task
    failure counts, from the session's uncompressed event log."""
    (path,) = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    stage_group: dict[int, str] = {}
    stages: dict[str, list[dict]] = {}
    tasks: dict[str, list[int]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "")
                if "Submission Time" not in info or "Failure Reason" in info:
                    continue
                acc = _acc(info)
                stages.setdefault(group, []).append(
                    {
                        "start": info["Submission Time"] / 1000.0,
                        "end": info["Completion Time"] / 1000.0,
                        "shuffle_write": acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0),
                        "spill": acc.get("internal.metrics.diskBytesSpilled", 0.0),
                        "gc_ms": acc.get("internal.metrics.jvmGCTime", 0.0),
                    }
                )
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                counts = tasks.setdefault(group, [0, 0])
                counts[0] += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if reason != "Success" or ev["Task Info"].get("Attempt", 0) > 0:
                    counts[1] += 1
    return {"stages": stages, "tasks": tasks}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(spans: list[dict], log: dict) -> dict[str, float]:
    """<layer>.<field> for every layer, plus spark.* totals, over the
    spans that carry a layer."""
    out: dict[str, float] = {}
    all_stages: list[dict] = []
    task_n = task_bad = 0
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        st = [x for s in mine for x in log["stages"].get(s["id"], [])]
        all_stages += st
        for s in mine:
            n, bad = log["tasks"].get(s["id"], (0, 0))
            task_n, task_bad = task_n + n, task_bad + bad
        wall = sum(s["end"] - s["start"] for s in mine)
        stage_s = _union([(x["start"], x["end"]) for x in st])

        def cpu(kind: str) -> float:
            return sum(s["cpu1"][kind] - s["cpu0"][kind] for s in mine)

        out.update(
            {
                f"{layer}.s": wall,
                f"{layer}.stage_s": stage_s,
                f"{layer}.driver_s": wall - stage_s,
                f"{layer}.jvm_cpu_s": cpu("jvm"),
                f"{layer}.py_worker_cpu_s": cpu("py_worker"),
                f"{layer}.driver_py_cpu_s": cpu("driver_py"),
                f"{layer}.shuffle_mb": sum(x["shuffle_write"] for x in st) / 2**20,
                f"{layer}.n_stages": float(len(st)),
            }
        )
    out["spark.spill_mb"] = sum(x["spill"] for x in all_stages) / 2**20
    out["spark.gc_s"] = sum(x["gc_ms"] for x in all_stages) / 1000.0
    out["spark.task_fail_frac"] = task_bad / task_n if task_n else 0.0
    return out
