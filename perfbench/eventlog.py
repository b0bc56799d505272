"""Engine and UDF-boundary metrics read from Spark's own plain-JSON event log.

The traced run enables the log (spark.eventLog.*, uncompressed, not rolled)
and records the wall-clock window of every timed call. Work is attributed
to a call by submission time: a job or stage submitted inside the window
belongs to it. Python-worker figures are the SQL metrics Spark attaches to
the ArrowEvalPython node; they arrive as per-task accumulator updates. A
stage whose tasks report Python run time is a scorer stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

_PY_RUN = "time to run Python workers"
_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_SENT = "data sent to Python workers"
_ROWS = "number of output rows"


def _plan_python_row_ids(node: dict, out: set[int]) -> None:
    if "EvalPython" in node.get("nodeName", ""):
        out.update(m["accumulatorId"] for m in node["metrics"] if m["name"] == _ROWS)
    for child in node.get("children", []):
        _plan_python_row_ids(child, out)


class EventLog:
    def __init__(self, log_dir: str) -> None:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: list[tuple[int, int]] = []  # (submission ms, job id)
        self.stages: dict[int, dict] = {}
        python_rows: set[int] = set()
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs.append((ev["Submission Time"], ev["Job ID"]))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    self._stage(info["Stage ID"])["submit"] = info.get("Submission Time")
                elif kind == "SparkListenerTaskEnd":
                    self._stage(ev["Stage ID"])["tasks"].append(ev)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_python_row_ids(ev["sparkPlanInfo"], python_rows)
        self.python_row_ids = python_rows

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {"submit": None, "tasks": []})

    def window(self, start_ms: float, end_ms: float, cores: int) -> dict:
        """Engine metrics of the work submitted in [start_ms, end_ms]."""
        stages = [
            s
            for s in self.stages.values()
            if s["submit"] is not None and start_ms <= s["submit"] <= end_ms
        ]
        jobs = sum(1 for t, _ in self.jobs if start_ms <= t <= end_ms)
        tasks = [t for s in stages for t in s["tasks"]]
        run_ms = gc_ms = shuffle_b = shuffle_ns = spill_b = 0
        failed = scorer_tasks = 0
        py_run = py_start = py_sent = py_rows = 0
        shuffle_stages = 0
        busiest, busiest_ms = [], -1
        shape = []  # (tasks, scorer?) per stage, in submission order
        for s in sorted(stages, key=lambda s: s["submit"]):
            stage_run, stage_shuffle, stage_py, durations = 0, 0, 0, []
            for t in s["tasks"]:
                if t["Task End Reason"]["Reason"] != "Success" or t["Task Info"]["Failed"]:
                    failed += 1
                m = t.get("Task Metrics") or {}
                r = m.get("Executor Run Time", 0)
                durations.append(r)
                stage_run += r
                gc_ms += m.get("JVM GC Time", 0)
                write = m.get("Shuffle Write Metrics", {})
                stage_shuffle += write.get("Shuffle Bytes Written", 0)
                shuffle_ns += write.get("Shuffle Write Time", 0)
                spill_b += m.get("Disk Bytes Spilled", 0)
                for acc in t["Task Info"].get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == _PY_RUN:
                        stage_py += int(upd)
                    elif name in _PY_START:
                        py_start += int(upd)
                    elif name == _PY_SENT:
                        py_sent += int(upd)
                    elif name == _ROWS and acc["ID"] in self.python_row_ids:
                        py_rows += int(upd)
            run_ms += stage_run
            py_run += stage_py
            scorer_tasks += len(s["tasks"]) if stage_py else 0
            shape.append((len(s["tasks"]), bool(stage_py)))
            shuffle_b += stage_shuffle
            shuffle_stages += stage_shuffle > 0
            if stage_run > busiest_ms:
                busiest, busiest_ms = durations, stage_run
        median_task = statistics.median(busiest) if busiest else 0
        wall_ms = max(end_ms - start_ms, 1.0)
        return {
            "spark.jobs": jobs,
            "spark.tasks": len(tasks),
            "spark.failed_tasks": failed,
            "spark.gc_s": gc_ms / 1000.0,
            "spark.core_busy_frac": run_ms / (wall_ms * cores),
            "spark.task_skew": max(busiest) / median_task if median_task else 1.0,
            "pipeline.shuffle_write_mb": shuffle_b / 1e6,
            "pipeline.shuffle_write_s": shuffle_ns / 1e9,
            "pipeline.shuffle_stages": shuffle_stages,
            "pipeline.spill_mb": spill_b / 1e6,
            "udfs.python_run_s": py_run / 1000.0,
            "udfs.python_start_s": py_start / 1000.0,
            "udfs.scorer_tasks": scorer_tasks,
            "_python_bytes_sent": py_sent,
            "_python_rows": py_rows,
            "_stage_tasks": shape,
        }
