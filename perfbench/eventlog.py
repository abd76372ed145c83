"""Fold Spark's JSON event log into per-layer metrics.

Ops run strictly one after another on one driver thread, so a job,
stage or task belongs to the op whose driver-clock window holds the
job's or stage's submission time. Job groups cannot be used instead:
jobs launched from the package's thread pools carry none.

A layer is the package module that registers the op
(``spec.fn.__module__``). Each module metric is the per-pass mean over
the timed passes the run reports; modules a workload does not use
read 0.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics

from workloads import MODULE_METRICS, MODULES, PACKAGE, SETUP_SPANS

PY_RUN_METRIC = "time to run Python workers"  # SQL timing metric, ms


class Windows:
    """Non-overlapping [start, end] ms windows, each with a key."""

    def __init__(self, items: list[tuple[float, float, tuple]]) -> None:
        self.items = sorted(items)
        self.starts = [w[0] for w in self.items]

    def key_at(self, t: float) -> tuple | None:
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.items[i][1]:
            return self.items[i][2]
        return None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def fold(log_dir: str, res: dict) -> dict:
    """``res`` is worker.py's result."""
    (name,) = os.listdir(log_dir)
    windows = [(s, e, ("setup", n)) for n, s, e in res["spans"]]
    windows += [(r["start_ms"], r["end_ms"], ("timed", r["op"], r["pass"]))
                for r in res["ops"]]
    win = Windows(windows)

    jobs_total = jobs_attr = failed_tasks = 0
    job_iv: dict[int, list] = {}
    stage_key: dict[int, tuple] = {}
    per_op: dict[tuple, dict[str, float]] = {}

    def acc(key: tuple) -> dict[str, float]:
        return per_op.setdefault(key, dict.fromkeys(
            ("jobs", "stages", "task_cpu_s", "task_deser_s", "task_gc_s",
             "shuffle_write_mb", "shuffle_records", "spill_mb",
             "python_udf_s"), 0.0))

    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs_total += 1
                key = win.key_at(ev["Submission Time"])
                job_iv[ev["Job ID"]] = [ev["Submission Time"], None]
                if key is not None:
                    jobs_attr += 1
                    acc(key)["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_iv:
                    job_iv[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = win.key_at(info.get("Submission Time", 0))
                if key is not None:
                    stage_key[info["Stage ID"]] = key
                    acc(key)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                if ev["Task End Reason"]["Reason"] != "Success":
                    failed_tasks += 1
                key = stage_key.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if key is None or m is None:
                    continue
                a = acc(key)
                a["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                a["task_deser_s"] += m["Executor Deserialize Time"] / 1e3
                a["task_gc_s"] += m["JVM GC Time"] / 1e3
                sw = m["Shuffle Write Metrics"]
                a["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / 2 ** 20
                a["shuffle_records"] += sw["Shuffle Records Written"]
                a["spill_mb"] += (m["Memory Bytes Spilled"]
                                  + m["Disk Bytes Spilled"]) / 2 ** 20
                for u in ev["Task Info"].get("Accumulables", ()):
                    if u["Name"] == PY_RUN_METRIC:
                        a["python_udf_s"] += int(u["Update"]) / 1e3

    passes = len(res["used"])
    intervals = [(a, b) for a, b in job_iv.values() if b is not None]
    mod: dict[str, dict[str, float]] = {
        m: dict.fromkeys(list(MODULE_METRICS) + ["spill_mb", "python_udf_s"], 0.0)
        for m in MODULES}
    for r in (r for r in res["ops"] if r["pass"] in res["used"]):
        m = mod[res["modules"][r["op"]].removeprefix(PACKAGE + ".")]
        m["build_s"] += r.get("build_s", 0.0)
        m["exec_s"] += r.get("exec_s", 0.0)
        m["driver_gap_s"] += (r["end_ms"] - r["start_ms"] - _covered(
            intervals, r["start_ms"], r["end_ms"])) / 1e3
        for k, v in per_op.get(("timed", r["op"], r["pass"]), {}).items():
            m[k] += v

    metrics = {f"{m}.{k}": mod[m][k] / passes
               for m in MODULES for k in MODULE_METRICS}
    for m in ("operators.similarity", "operators.dedup"):
        metrics[f"{m}.python_udf_s"] = mod[m]["python_udf_s"] / passes
    for m in ("operators.graph", "operators.dedup"):
        metrics[f"{m}.spill_mb"] = mod[m]["spill_mb"] / passes
    spans = {n: (e - s) / 1e3 for n, s, e in res["spans"]}
    for span, metric in SETUP_SPANS.items():
        metrics[metric] = spans.get(span, 0.0)
    metrics["ops.storage_mb"] = res["storage_mb"][-1]
    metrics["ops.failed_tasks"] = failed_tasks
    metrics["ops.wall_s"] = statistics.median(
        x["wall_s"] for x in res["passes"] if x["pass"] in res["used"])
    metrics["ops.job_attribution"] = jobs_attr / max(jobs_total, 1)
    return {"metrics": metrics,
            "record": {"jobs_total": jobs_total, "jobs_attributed": jobs_attr,
                       "storage_mb_per_pass": [round(x, 3) for x in res["storage_mb"]]}}
