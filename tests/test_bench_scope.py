"""bench._task_histogram scoping: stages come from the measured job group
only, and a group that matched nothing is an error, not all stages."""

from __future__ import annotations

import json

import pytest

import bench


def _write_log(evdir, jobs, tasks):
    """Minimal Spark event log: JobStart (group, stage ids) and TaskEnd
    (stage id, duration ms) lines."""
    evdir.mkdir()
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": j, "Stage IDs": stages,
         "Properties": {"spark.jobGroup.id": group}}
        for j, (group, stages) in enumerate(jobs)
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms}}
        for sid, ms in tasks
    ]
    # Spark writes compact JSON; the reader matches on the compact form
    (evdir / "events_1_app").write_text(
        "\n".join(json.dumps(ev, separators=(",", ":")) for ev in lines) + "\n"
    )
    return str(evdir)


def test_task_histogram_scoped_to_group(tmp_path):
    evdir = _write_log(
        tmp_path / "ev",
        jobs=[("warmup", [0]), ("measured", [1])],
        tasks=[(0, 900), (0, 900), (1, 10), (1, 30), (1, 20)],
    )
    # the heavier warm-up stage is not a candidate
    assert bench._task_histogram(evdir, job_group="measured") == {
        "p50": 20, "max": 30, "n_tasks": 3,
    }


def test_task_histogram_unmatched_group_raises(tmp_path):
    evdir = _write_log(
        tmp_path / "ev",
        jobs=[("warmup", [0])],
        tasks=[(0, 900), (0, 100)],
    )
    with pytest.raises(ValueError, match="matched no stage"):
        bench._task_histogram(evdir, job_group="measured")


def test_task_histogram_unscoped_uses_all_stages(tmp_path):
    evdir = _write_log(tmp_path / "ev", jobs=[("x", [0])], tasks=[(0, 5), (1, 50)])
    assert bench._task_histogram(evdir)["max"] == 50
