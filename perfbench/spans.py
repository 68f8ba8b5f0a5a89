"""Spans around layer calls, and Spark event-log attribution to them.

A traced op opens one root span; every call into a layer runs inside a
child span whose name is the layer. Entering a span sets the Spark job
group to ``<op id>:<layer>``, so every job the call starts carries the
layer in its properties, and leaving it restores the parent's group.
Spans stay in memory; the run prints them when it ends.

Self time of a span is its duration minus the part of it that its
child spans cover. Per-layer numbers from Spark come from the event
log: ``SparkListenerJobStart`` maps stages to job groups, and each
``SparkListenerTaskEnd`` adds its metrics to its stage's group.

What the Python-worker metrics of Spark 4.1 measure, per Python runner
(one per Arrow/pandas evaluation per task), read from
``BasePythonRunner.ReaderIterator.handleTimingData`` and
``pyspark/worker.py``. The worker stamps ``boot`` when its ``main()``
starts, ``init`` when the UDF closure is loaded and ``finish`` when it
is done; the JVM stamps ``start`` when the runner begins.

- ``time to start Python workers`` = boot - start: forking a worker
  from the daemon and connecting to it. Reported only when positive,
  i.e. for a freshly started worker.
- ``time to initialize Python workers`` = init - boot: reading the task
  header, Spark files and broadcasts, and unpickling the UDF closure,
  which imports every module it references (pandas, pyarrow,
  ``ctinexus_spark``). A REUSED worker enters ``main()`` as soon as its
  previous task ends and then blocks for the next one, so its "init"
  also holds all the time it sat idle. Measured: after a 4 s pause
  between two jobs the reused workers reported 4.85 s of init against
  0.53 s of run. This is why an LP stage can show more init than its
  tasks' executor run time.
- ``time to run Python workers`` = finish - start: the runner's whole
  Python time as the JVM sees it, including waits for input that the
  JVM computes upstream in the same task.

So per layer: ``py_start_s`` sums start; ``py_init_s`` sums init only
for runners that reported a start (fresh workers, where init is exact);
``py_run_s`` is the rest of the runners' total, so the three add up to
Σ "time to run". All are summed over every runner of every task, so a
layer's sum can exceed the wall time of any one task.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_LAYERS = ["normalize", "ie_et", "align", "lp", "barrier", "stagestore", "embed", "lsh", "cc"]
ARROW_LAYERS = ["ie_et", "align", "lp", "embed"]
COMMON = ["self_s", "jobs", "executor_run_s", "shuffle_bytes", "spill_bytes",
          "py_start_s", "py_init_s", "py_run_s"]
ARROW = ["py_bytes_sent", "py_bytes_returned"]

_PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_total_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op_id: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"op": op_id, "name": name, "parent": parent["id"] if parent else None,
               "id": len(self.spans), "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{op_id}:{name}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{op_id}:{parent['name']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self, op_id: str) -> dict[str, float]:
        """layer → Σ self seconds over the op's spans. Child spans of
        one parent run one after another, so their union is their sum."""
        spans = [s for s in self.spans if s["op"] == op_id]
        covered: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - covered[s["id"]]
        return dict(out)


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of application ``app_id``, after it has stopped."""
    with open(os.path.join(log_dir, app_id)) as f:
        return [json.loads(line) for line in f if line.strip()]


def task_metrics_by_group(events: list[dict]) -> tuple[dict[str, dict], dict[str, float]]:
    """({job group: metrics summed over its tasks}, {job group: executor
    run ms that Spark itself totals per completed stage}).

    The second map comes from the ``SparkListenerStageCompleted``
    accumulables, not from the TaskEnd records, so comparing the two
    checks that the per-task attribution lost and double-counted
    nothing."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "(none)"
            jobs[group] += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, group)
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_totals: dict[str, float] = defaultdict(float)
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == "internal.metrics.executorRunTime":
                    stage_totals[stage_group.get(info["Stage ID"], "(none)")] += float(acc["Value"])
        if e["Event"] != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        m = e["Task Metrics"]
        sw = m.get("Shuffle Write Metrics", {})
        vals = {
            "executor_run_ms": m.get("Executor Run Time", 0),
            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        }
        for acc in e["Task Info"].get("Accumulables", []):
            key = _PY_ACCUMS.get(acc.get("Name"))
            if key is not None:
                vals[key] = vals.get(key, 0) + float(acc.get("Update") or 0)
        if "py_start_ms" not in vals:  # reused worker: init holds its idle time
            vals.pop("py_init_ms", None)
        g = groups[stage_group.get(e["Stage ID"], "(none)")]
        for k, v in vals.items():
            g[k] += v
    for group, n in jobs.items():
        groups[group]["jobs"] = n
    return {k: dict(v) for k, v in groups.items()}, dict(stage_totals)


def layer_common(group_metrics: dict[str, dict], op_ids: list[str], layer: str) -> dict[str, float]:
    """Common per-layer set for ``layer``, as a median over the ops."""
    import statistics

    rows = []
    for op in op_ids:
        g = group_metrics.get(f"{op}:{layer}", {})
        start = g.get("py_start_ms", 0.0) / 1000
        init = g.get("py_init_ms", 0.0) / 1000
        rows.append({
            "jobs": g.get("jobs", 0),
            "executor_run_s": g.get("executor_run_ms", 0.0) / 1000,
            "shuffle_bytes": g.get("shuffle_bytes", 0.0),
            "spill_bytes": g.get("spill_bytes", 0.0),
            "py_start_s": start,
            "py_init_s": init,
            "py_run_s": g.get("py_total_ms", 0.0) / 1000 - start - init,
            "py_bytes_sent": g.get("py_bytes_sent", 0.0),
            "py_bytes_returned": g.get("py_bytes_returned", 0.0),
        })
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
