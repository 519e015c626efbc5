"""Spark event-log reader, scoped to one job group.

Reads the rolled v2 event log (``eventlog_v2_<app>/events_<n>_<app>``)
that ``spark.eventLog.rolling.enabled`` writes, keeps only the stages of
jobs submitted under the measured job group, and sums their task metrics
and SQL accumulables. It never widens: a log in which the group matched
no job or no completed stage raises ``UnscopedEventLog``.
"""

from __future__ import annotations

import glob
import json
import os
import re


class UnscopedEventLog(RuntimeError):
    """The measured job group matched nothing in the event log."""


# SQL accumulables on the Arrow Python stage (Spark 4.x names)
PYTHON_ACCUMS = {
    "time to run Python workers": "spark.python.run_ms",
    "time to start Python workers": "spark.python.start_ms",
    "time to initialize Python workers": "spark.python.init_ms",
    "data sent to Python workers": "spark.python.bytes_sent",
    "data returned from Python workers": "spark.python.bytes_returned",
    "number of input batches": "spark.python.input_batches",
}

SPARK_METRICS = [
    *PYTHON_ACCUMS.values(),
    "spark.task.run_ms", "spark.task.cpu_ms", "spark.task.gc_ms",
    "spark.task.ms_p50", "spark.task.ms_max", "spark.task.n",
    "spark.shuffle.bytes_written", "spark.output.bytes_written",
    "spark.task.commit_ms",
]

SINK_METRICS = [
    "pipeline.run_with_resume.antijoin_ms",
    "pipeline.write_outputs.checkpoint_ms",
    "pipeline.write_outputs.docs_out_ms",
    "pipeline.write_outputs.audit_ms",
]


def event_files(log_dir: str) -> list:
    """Event files of the single application under ``log_dir``, in order."""
    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if len(apps) != 1:
        raise UnscopedEventLog(f"{log_dir}: expected one rolled v2 application log, found {len(apps)}")
    files = glob.glob(os.path.join(apps[0], "events_*"))
    if not files:
        raise UnscopedEventLog(f"{apps[0]}: no events_* files")
    return sorted(files, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _intervals_ms(spans) -> float:
    """Wall time covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def _percentile(sorted_vals, q):
    if not sorted_vals:
        return 0.0
    return float(sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))])


class ScopedLog:
    """Stages, tasks and SQL executions of one job group."""

    def __init__(self, events, job_group: str):
        self.job_group = job_group
        self.jobs = {}          # job id -> (sql execution id or None, [stage ids])
        self.stages = {}        # stage id -> completed Stage Info
        self.tasks = {}         # stage id -> [TaskEnd event]
        self.plans = {}         # sql execution id -> physical plan text
        stage_ids = set()
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") != job_group:
                    continue
                exec_id = props.get("spark.sql.execution.id")
                self.jobs[ev["Job ID"]] = (None if exec_id is None else int(exec_id), ev["Stage IDs"])
                stage_ids.update(ev["Stage IDs"])
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_ids:
                    self.stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
                self.tasks.setdefault(ev["Stage ID"], []).append(ev)
        if not self.jobs:
            raise UnscopedEventLog(f"job group {job_group!r} matched no job")
        if not self.stages:
            raise UnscopedEventLog(f"job group {job_group!r} matched no completed stage")

    @staticmethod
    def _scopes(info) -> set:
        names = set()
        for rdd in info.get("RDD Info", []):
            if rdd.get("Scope"):
                names.add(json.loads(rdd["Scope"])["name"].strip())
        return names

    def _accum(self, info, name) -> float:
        for a in info.get("Accumulables", []):
            if a.get("Name") == name:
                return float(a.get("Value") or 0)
        return 0.0

    def python_stages(self) -> list:
        return [sid for sid, info in self.stages.items() if "MapInPandas" in self._scopes(info)]

    def spark_metrics(self) -> dict:
        """Stage-level sums over the group, task spread of the Python stage."""
        out = {m: 0.0 for m in SPARK_METRICS}
        for info in self.stages.values():
            for acc, metric in PYTHON_ACCUMS.items():
                out[metric] += self._accum(info, acc)
            out["spark.task.commit_ms"] += self._accum(info, "task commit time")
        for evs in self.tasks.values():
            for ev in evs:
                tm = ev.get("Task Metrics") or {}
                out["spark.task.run_ms"] += tm.get("Executor Run Time", 0)
                out["spark.task.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                out["spark.task.gc_ms"] += tm.get("JVM GC Time", 0)
                out["spark.shuffle.bytes_written"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                out["spark.output.bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        durations = sorted(
            ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"]
            for sid in self.python_stages() for ev in self.tasks.get(sid, [])
        )
        out["spark.task.ms_p50"] = _percentile(durations, 0.5)
        out["spark.task.ms_max"] = float(durations[-1]) if durations else 0.0
        out["spark.task.n"] = float(len(durations))
        return out

    def stage_table(self) -> list:
        """One row per scoped stage, for the detail record."""
        rows = []
        for sid, info in sorted(self.stages.items()):
            rows.append({
                "stage": sid,
                "name": info.get("Stage Name"),
                "tasks": info.get("Number of Tasks"),
                "wall_ms": info["Completion Time"] - info["Submission Time"],
                "scopes": sorted(self._scopes(info)),
            })
        return rows

    def sink_metrics(self) -> dict:
        """Wall time of the resume and write phases, classified per stage.

        - a stage of a job whose SQL plan inserts into ``docs_out`` or
          ``audit`` belongs to that sink's write;
        - a stage that reads the prior ``docs_out`` (its schema, a parquet
          scan, or the broadcast of its keys) is the anti-join's resume side;
        - any other stage of the SQL execution that ran the eager
          ``localCheckpoint`` is the checkpoint, which also scores.

        Phases that did not run read 0 (the score-only workloads).
        """
        checkpoint_execs = {
            exec_id for exec_id, stage_ids in self.jobs.values()
            if any(self.stages.get(sid, {}).get("Stage Name", "").startswith("localCheckpoint")
                   for sid in stage_ids)
        }
        spans = {m: [] for m in SINK_METRICS}
        for exec_id, stage_ids in self.jobs.values():
            plan = self.plans.get(exec_id, "")
            for sid in stage_ids:
                info = self.stages.get(sid)
                if info is None:  # skipped: its output was reused
                    continue
                scopes = self._scopes(info)
                if "InsertIntoHadoopFsRelationCommand" in plan:
                    m = ("pipeline.write_outputs.docs_out_ms" if "/docs_out" in plan
                         else "pipeline.write_outputs.audit_ms" if "/audit" in plan else None)
                elif ("Scan parquet" in scopes or "BroadcastExchange" in scopes
                      or info.get("Stage Name", "").startswith("parquet at")):
                    m = "pipeline.run_with_resume.antijoin_ms"
                elif exec_id in checkpoint_execs:
                    m = "pipeline.write_outputs.checkpoint_ms"
                else:
                    m = None
                if m is not None:
                    spans[m].append((info["Submission Time"], info["Completion Time"]))
        return {m: _intervals_ms(v) for m, v in spans.items()}


def read_scoped(log_dir: str, job_group: str) -> ScopedLog:
    return ScopedLog(read_events(log_dir), job_group)
