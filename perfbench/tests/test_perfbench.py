"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import eventlog  # noqa: E402
import replay  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from pycorrector_spark.operators.score import build_artifacts, make_workers, process_batch  # noqa: E402
from pycorrector_spark.config import keep_decision  # noqa: E402
from pycorrector_spark.textops import signals_frame  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def workers():
    art = build_artifacts()
    zh, en = make_workers(art)
    return zh, en, art.cfg


# -- generators --------------------------------------------------------------

@pytest.mark.parametrize("gen", [
    lambda s: workloads.zh_mix(s, n_docs=300),
    lambda s: workloads.en_soup(s, replicas=2),
    lambda s: workloads.prior_half(workloads.en_soup(s, replicas=2), s),
])
def test_generator_is_deterministic_per_seed(gen):
    a, b, c = gen(11), gen(11), gen(12)
    assert workloads.content_hash(a) == workloads.content_hash(b)
    assert workloads.content_hash(a) != workloads.content_hash(c)
    assert a["url"].is_unique


def test_zh_mix_reaches_both_language_paths():
    docs = workloads.zh_mix(3, n_docs=400)
    mix = workloads.describe(docs, workloads.lang_ids(docs["text"]))
    assert mix["lang_id_mix"]["zh"] > mix["lang_id_mix"]["en"] > 0
    assert 0 < mix["zh_fragment_repeat_share"] < 1


def test_en_soup_is_the_committed_table_replicated():
    docs = workloads.en_soup(5, replicas=3)
    base = workloads.load_documents()
    assert len(docs) == 3 * len(base)
    assert sorted(docs["text"]) == sorted(list(base["text"]) * 3)


# -- correctness gate ----------------------------------------------------------

def test_golden_check_rejects_one_mutated_row(workers):
    zh, en, cfg = workers
    docs = workloads.zh_mix(7, n_docs=40)
    urls = checks.sample_urls(docs, 7, k=12)
    expected = checks.golden_expectations(docs, urls, zh, en, cfg)
    out = process_batch(docs.drop(columns=["html"]), zh, en, cfg)
    observed = {r["url"]: {f: r[f] for f in checks.GOLDEN_FIELDS}
                for r in out.to_dict("records") if r["url"] in expected}
    observed = {u: {f: (None if v != v else v) for f, v in row.items()} for u, row in observed.items()}
    for row in observed.values():  # pandas hands ints back as floats next to NaN
        if row["n_errors"] is not None:
            row["n_errors"] = int(row["n_errors"])
    assert checks.golden_mismatches(expected, observed) == []

    victim = urls[3]
    observed[victim] = dict(observed[victim], scrubbed_text=observed[victim]["scrubbed_text"] + "x")
    bad = checks.golden_mismatches(expected, observed)
    assert [b[:2] for b in bad] == [(victim, "scrubbed_text")]

    del observed[urls[0]]
    assert len(checks.golden_mismatches(expected, observed)) == 2


def test_serial_replay_equals_process_batch(workers):
    zh, en, cfg = workers
    batch = workloads.zh_mix(9, n_docs=120).drop(columns=["html"])
    assert {"zh", "en"} <= set(workloads.lang_ids(batch["text"]))
    tracer = replay.Tracer()
    traced = replay.replay_batch(batch.copy(), zh, en, cfg, tracer, 0)
    direct = process_batch(batch.copy(), zh, en, cfg)
    assert checks.frames_equal(traced, direct)
    # the wrappers are gone again
    assert "detect" not in vars(zh) and "correct" not in vars(en) and "ppl_batch" not in vars(zh.lm)
    assert replay.score_mod.keep_decision is keep_decision
    assert replay.textops.signals_frame is signals_frame

    totals = tracer.totals()
    assert set(totals) == {replay.BATCH_SPAN, *replay.LAYERS}
    # correct's own rerank calls of ppl_batch count in correct, not in the LM layer
    assert totals["lm.model.ppl_batch"][1]["texts"] == direct["n_errors"].notna().sum()
    assert totals["refimpl.core.Corrector.detect"][1]["calls"] > 0
    assert totals["refimpl.core.EnSpellCorrector.correct"][1]["calls"] > 0
    root = next(s for s in tracer.spans if s.name == replay.BATCH_SPAN)
    assert all(s.parent == root.id for s in tracer.spans if s is not root)
    layer_ms = sum(totals[n][0] for n in replay.LAYERS)
    assert layer_ms <= totals[replay.BATCH_SPAN][0]

    mutated = direct.copy()
    mutated.loc[5, "corrected_text"] = "?"
    assert not checks.frames_equal(traced, mutated)


# -- event log -----------------------------------------------------------------

def _write_log(tmp_path, group):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "setup"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": group, "spark.sql.execution.id": "3"}},
    ]
    for sid, scope in ((0, "Exchange"), (1, "MapInPandas")):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                       "Task Info": {"Launch Time": 0, "Finish Time": 100 + sid},
                       "Task Metrics": {"Executor Run Time": 90 + sid, "Executor CPU Time": 2_000_000,
                                        "JVM GC Time": 1}})
        events.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Stage Name": "collect", "Number of Tasks": 1,
            "Submission Time": 0, "Completion Time": 120,
            "RDD Info": [{"Scope": json.dumps({"id": "1", "name": scope})}],
            "Accumulables": [{"Name": "time to run Python workers", "Value": "70"}]}})
    return _write_events(tmp_path, events)


def _write_events(tmp_path, events):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(tmp_path)


def test_event_log_reader_rejects_unscoped_log(tmp_path):
    log_dir = _write_log(tmp_path, "someone-else")
    with pytest.raises(eventlog.UnscopedEventLog):
        eventlog.read_scoped(log_dir, run.MEASURED_GROUP)


def test_event_log_reader_keeps_only_the_group(tmp_path):
    scoped = eventlog.read_scoped(_write_log(tmp_path, run.MEASURED_GROUP), run.MEASURED_GROUP)
    m = scoped.spark_metrics()
    assert m["spark.task.n"] == 1 and m["spark.task.run_ms"] == 91
    assert m["spark.python.run_ms"] == 70
    assert set(scoped.sink_metrics().values()) == {0.0}


def test_sink_metrics_leave_out_reads_outside_the_group(tmp_path):
    # the resume pass's anti-join reads docs_out inside the group; the
    # benchmark's check read of docs_out afterwards runs outside it
    events = []
    for job, group, start, end in ((0, run.MEASURED_GROUP, 0, 50), (1, None, 100, 400)):
        props = {"spark.sql.execution.id": str(job)}
        if group:
            props["spark.jobGroup.id"] = group
        events += [
            {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": [job], "Properties": props},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": job, "Stage Name": "parquet at NativeMethodAccessorImpl.java:0",
                "Number of Tasks": 1, "Submission Time": start, "Completion Time": end,
                "RDD Info": [{"Scope": json.dumps({"id": "1", "name": "Scan parquet"})}]}},
        ]
    scoped = eventlog.read_scoped(_write_events(tmp_path, events), run.MEASURED_GROUP)
    assert list(scoped.stages) == [0]
    assert scoped.sink_metrics()["pipeline.run_with_resume.antijoin_ms"] == 50


def test_event_log_reader_rejects_missing_log(tmp_path):
    with pytest.raises(eventlog.UnscopedEventLog):
        eventlog.read_scoped(str(tmp_path), run.MEASURED_GROUP)


# -- metric names ----------------------------------------------------------------

def test_metric_names_are_well_formed_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME_RE.fullmatch(n) and len(n) <= 64 for n in declared)
    assert len(set(declared)) == len(declared)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.GENERATORS)
