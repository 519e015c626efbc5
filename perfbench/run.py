#!/usr/bin/env python3
"""Score-pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload zh_mix --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. It starts Spark as ``local[N]`` (N =
min(4, usable cores)) in this process, sets the pipeline up with the
production artifacts (``operators.score.default_artifacts``), then times
whole passes of the quality-filter score pipeline over the workload's
seeded input for ``--seconds`` seconds, checking every pass against the
serial oracle. ``--trace 1`` runs the per-layer variant instead: one
event-logged Spark pass scoped to a job group plus a serial, span-traced
replay of ``process_batch``.

stdout ends with one compact JSON line (correct, attempted, failed,
metrics); the full record with the spans goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``. Scratch files
(Spark local dirs, event logs, resume outputs) live under
``.perfbench_work/`` and are removed when the run ends. See README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# the program under test; absent -> ImportError, non-zero exit, no result
from pycorrector_spark.operators import score as score_mod  # noqa: E402
from pycorrector_spark.pipeline import run_quality_pipeline, run_with_resume  # noqa: E402

import checks  # noqa: E402
import eventlog  # noqa: E402
import record  # noqa: E402
import replay  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
MEASURED_GROUP = "perfbench-measured"
# a deployment setting of this benchmark (the package default is 48g)
DRIVER_MEMORY = "2g"
MIN_PASSES = 3
WARMUP_DOCS = 256
# serial replay size, in Arrow batches of the Spark stage's size
REPLAY_BATCHES = 8

END_TO_END = {"docs_per_s": "1/s", "setup_s": "s", "worker_peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def n_cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


# ---------------------------------------------------------------------------
# Spark session and set-up
# ---------------------------------------------------------------------------


def start_spark(cores: int, work: str, event_dir: str = None):
    from pycorrector_spark.session import get_spark

    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # workers import the package from the checkout and keep temp files in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # wins over spark.local.dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM this process launched, and wait for
    it: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def to_spark(spark, pdf, cores: int):
    """Cached Spark copy of a pandas input, ``cores`` partitions (fewer than
    the score stage's 32, so every pass runs the pipeline's url repartition)."""
    df = spark.createDataFrame(pdf).repartition(cores).persist()
    df.count()
    return df


def set_up(spark, cores: int, warm_pdf):
    """One set-up: default_artifacts (its per-process cache cleared), the
    broadcast, and a warm-up pass that builds a Corrector in every Python
    worker (a new broadcast is a new worker-cache key). Returns
    (artifacts, broadcast, seconds)."""
    t0 = time.perf_counter()
    score_mod.default_artifacts.cache_clear()
    art = score_mod.default_artifacts()
    bc = spark.sparkContext.broadcast(art)
    # one partition per core and no url repartition: one task per worker
    warm = spark.createDataFrame(warm_pdf)
    run_quality_pipeline(spark, warm, repartition=0, bc=bc).write.format("noop").mode("overwrite").save()
    return art, bc, time.perf_counter() - t0


def start_and_set_up(cores: int, work: str, warm_pdf, event_dir: str = None):
    """Start Spark and set the pipeline up once. setup_s runs from process
    start (the first line of this script) until the set-up's warm-up pass
    has built a Corrector in every Python worker: interpreter and imports,
    JVM launch, worker fork and worker-side imports, artifacts, broadcast.
    Returns (spark, art, bc, timings)."""
    spark = start_spark(cores, work, event_dir)
    session_s = time.time() - T_START
    art, bc, set_up_s = set_up(spark, cores, warm_pdf)
    setup_s = time.time() - T_START
    log(f"session {session_s:.2f}s, set-up {set_up_s:.2f}s, setup_s {setup_s:.2f}s")
    return spark, art, bc, {"session_s": session_s, "set_up_s": set_up_s, "setup_s": setup_s}


@contextlib.contextmanager
def job_group(spark, group):
    """Jobs started inside run under ``group``; None leaves them ungrouped."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, "perfbench measured pass")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------


def score_pass(spark, docs_df, bc, sample, group=None):
    """One timed pass of run_quality_pipeline; the action is one aggregate
    that returns a digest of every output row plus the sampled rows, so it
    is both the pass's sink and its check."""
    t0 = time.perf_counter()
    with job_group(spark, group):
        scored = run_quality_pipeline(spark, docs_df, bc=bc)
        row = scored.agg(*checks.digest_aggs(scored, sample)).collect()[0]
    return time.perf_counter() - t0, checks.unpack_digest(row)


def resume_pass(spark, docs_df, prior_dir, out_dir, sample, prior_runs, group=None):
    """One timed run_with_resume over the full input, starting from a fresh
    copy of the prior run; then, untimed and outside ``group``, one read of
    docs_out and audit for the resume-contract checks."""
    from pyspark.sql import functions as F

    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.copytree(prior_dir, out_dir)
    t0 = time.perf_counter()
    with job_group(spark, group):
        run_with_resume(spark, docs_df, out_dir)
    elapsed = time.perf_counter() - t0
    out = spark.read.parquet(f"{out_dir}/docs_out")
    row = out.agg(*checks.digest_aggs(out, sample), *checks.url_aggs()).collect()[0]
    res = {**checks.unpack_digest(row), **checks.unpack_urls(row)}
    res["audit_n_rows"] = [
        r["n_rows"] for r in spark.read.parquet(f"{out_dir}/audit")
        .filter((F.col("partition_id") == -1) & ~F.col("run_id").isin(prior_runs)).collect()
    ]
    return elapsed, res


def pass_failures(res: dict, n_input: int, n_new: int, expected: dict, urls: dict = None) -> int:
    """Documents this pass got wrong, each check counting a document once.

    With ``urls`` (the input's url count and hash, resume_write only) the
    resume contract is checked too: docs_out holds every input url exactly
    once, and the run's audit summary row counts the newly scored docs."""
    bad = len(checks.golden_mismatches(expected, res["sample"]))
    if urls is None:
        return bad + abs(res["n"] - n_input)
    bad += res["n"] - res["n_urls"]                   # duplicated urls
    if res["url_xor"] != urls["url_xor"]:             # some url missing or foreign
        bad += max(n_input - res["n_urls"], 1)
    if res["audit_n_rows"] != [n_new]:                # summary row != newly scored
        bad += n_new
    return bad


def worker_peak_rss_mb() -> float:
    """Largest VmHWM over this process's PySpark worker descendants."""
    children = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    todo, peak = [os.getpid()], 0
    while todo:
        for pid in children.get(todo.pop(), []):
            todo.append(pid)
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]))
            except OSError:
                continue
    if not peak:
        raise RuntimeError("no PySpark worker process found under this process")
    return peak / 1024.0


# ---------------------------------------------------------------------------
# Run
# ---------------------------------------------------------------------------


@dataclasses.dataclass
class Prepared:
    run_pass: object          # (group=None) -> (seconds, checked result)
    docs_df: object           # the cached input
    sample: list              # urls checked against the serial oracle
    n_scored: int             # documents each pass newly scores
    input_urls: dict = None   # resume_write: url count and hash of the input
    info: dict = dataclasses.field(default_factory=dict)


def prepare(spark, bc, workload, seed, pdf, cores, work) -> Prepared:
    """Cached input, prior run (resume_write) and the pass function."""
    t0 = time.time()
    docs_df = to_spark(spark, pdf, cores)
    log(f"input cached: {time.time() - t0:.2f}s")
    sample = checks.sample_urls(pdf, seed)
    if workload != "resume_write":
        return Prepared(lambda group=None: score_pass(spark, docs_df, bc, sample, group),
                        docs_df, sample, len(pdf))
    prior_dir, out_dir = os.path.join(work, "prior"), os.path.join(work, "out")
    prior_pdf = workloads.prior_half(pdf, seed)
    t0 = time.time()
    run_with_resume(spark, spark.createDataFrame(prior_pdf), prior_dir)
    log(f"prior run over {len(prior_pdf)} docs: {time.time() - t0:.2f}s")
    prior_runs = [r["run_id"] for r in spark.read.parquet(f"{prior_dir}/audit").select("run_id").distinct().collect()]
    n_new = len(pdf) - len(prior_pdf)
    return Prepared(
        lambda group=None: resume_pass(spark, docs_df, prior_dir, out_dir, sample, prior_runs, group),
        docs_df, sample, n_new,
        input_urls=checks.unpack_urls(docs_df.agg(*checks.url_aggs()).collect()[0]),
        info={"prior_docs": len(prior_pdf), "new_docs": n_new},
    )


def timed_passes(run_pass, seconds: float, min_passes: int):
    """Run passes until the next one would overrun ``seconds``."""
    passes, failures = [], []
    t_begin = time.perf_counter()
    while True:
        try:
            elapsed, res = run_pass()
            passes.append((elapsed, res))
            log(f"pass {len(passes)}: {elapsed:.3f}s")
        except Exception as e:  # a failed pass is counted, not fatal
            failures.append(repr(e))
            log(f"pass failed: {e!r}")
            if len(failures) >= 2:
                break
        spent = time.perf_counter() - t_begin
        typical = statistics.median(p[0] for p in passes) if passes else 0.0
        if len(passes) >= min_passes and spent + typical > seconds:
            break
    return passes, failures


def run(args) -> dict:
    workload, seed = args.workload, args.seed
    cores = n_cores()
    load_before = record.loadavg()
    work = os.path.join(WORK, f"{workload}-s{seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "events") if args.trace else None
    warm_pdf = workloads.zh_mix(0, n_docs=WARMUP_DOCS)

    spark, art, bc, setup = start_and_set_up(cores, work, warm_pdf, event_dir)
    cfg = art.cfg
    zh, en = score_mod.make_workers(art)

    t_prep = time.time()
    pdf = workloads.make_input(workload, seed)
    ids = workloads.lang_ids(pdf["text"])
    prep = prepare(spark, bc, workload, seed, pdf, cores, work)
    n_scored = prep.n_scored
    expected = checks.golden_expectations(pdf, prep.sample, zh, en, cfg)
    if args.trace and workload != "resume_write":
        # the first full pass after start-up is not steady state (the JVM
        # is still compiling); the untraced run's median over >= 3 passes
        # leaves it out, the traced run's single pass must come after it.
        # On resume_write the prior run is that pass.
        t0 = time.time()
        prep.run_pass()
        log(f"untimed first pass: {time.time() - t0:.2f}s")
    prep_s = time.time() - t_prep
    log(f"prepared {len(pdf)} docs in {prep_s:.2f}s")

    if args.trace:
        passes, failures = timed_passes(lambda: prep.run_pass(MEASURED_GROUP), 0, 1)
    else:
        passes, failures = timed_passes(prep.run_pass, args.seconds, MIN_PASSES)

    n_input = len(pdf)
    bad_docs = [pass_failures(res, n_input, n_scored, expected, prep.input_urls) for _, res in passes]
    digests = sorted({res["digest"] for _, res in passes})
    rss_mb = worker_peak_rss_mb()
    prep.docs_df.unpersist()
    stop_spark(spark)

    attempted = n_scored * (len(passes) + len(failures))
    failed = sum(bad_docs) + n_scored * len(failures)
    if len(digests) > 1:  # passes disagree: every doc of the odd passes is suspect
        failed += n_scored * (len(passes) - 1)
    rates = [n_scored / el for el, _ in passes]

    rec = {
        "workload": workload, "seed": seed, "trace": args.trace, "seconds": args.seconds,
        "cores": cores, "master": f"local[{cores}]", "driver_memory": DRIVER_MEMORY,
        "load_before": load_before,
        "git_commit": record.git_commit(ROOT),
        "config_sha256": record.config_hash(cfg),
        "artifacts": record.artifacts_fingerprint(art),
        "input": {**workloads.describe(pdf, ids), **prep.info},
        "golden_sample": len(prep.sample),
        "setup": setup,
        "prep_s": prep_s,
        "passes": [{"seconds": el, "docs_per_s": n_scored / el, "digest": res["digest"],
                    "drop_reasons": res["drop_reasons"], "bad_docs": bad}
                   for (el, res), bad in zip(passes, bad_docs)],
        "failed_passes": failures,
        "digests": digests,
        "drop_reasons": passes[0][1]["drop_reasons"] if passes else None,
        "worker_peak_rss_mb": rss_mb,
    }
    if args.trace:
        layer, bad_replay = trace_layers(workload, seed, pdf, art, rec)
        failed += bad_replay
        layer["trace.spark_docs_per_s"] = rates[0] if rates else 0.0
        layer.update(spark_layers(event_dir, rec))
        metrics = {name: (layer[name], unit) for name, unit in per_layer_metrics()}
    else:
        values = {
            "docs_per_s": statistics.median(rates) if rates else 0.0,
            "setup_s": setup["setup_s"],
            "worker_peak_rss_mb": rss_mb,
        }
        metrics = {name: (values[name], unit) for name, unit in END_TO_END.items()}
    rec["load_after"] = record.loadavg()
    rec["attempted"], rec["failed"] = attempted, failed
    rec["error_rate"] = failed / attempted if attempted else 1.0
    rec["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    shutil.rmtree(work, ignore_errors=True)
    return rec


def per_layer_metrics() -> list:
    """(name, unit) of every metric a ``--trace 1`` run prints, in order."""
    out = []
    for name, counters in replay.LAYERS.items():
        out += [(f"{name}.ms", "ms"), *((f"{name}.{c}", "count") for c in counters)]
    out += [
        ("refimpl.core.Corrector.correct.useful_ratio", "ratio"),
        ("operators.score.process_batch.ms", "ms"),
        ("operators.score.glue.ms", "ms"),
        ("operators.score.serial_docs_per_s", "1/s"),
        ("operators.score.default_artifacts.ms", "ms"),
        ("operators.score.default_artifacts.pickled_bytes", "bytes"),
        ("trace.replay_overhead_pct", "%"),
        ("trace.spark_docs_per_s", "1/s"),
    ]
    counts = {"spark.python.input_batches", "spark.task.n"}
    out += [(n, "bytes" if "bytes" in n else "count" if n in counts else "ms")
            for n in eventlog.SPARK_METRICS]
    return out + [(n, "ms") for n in eventlog.SINK_METRICS]


def trace_layers(workload, seed, pdf, art, rec) -> tuple:
    """Serial replay (also the single-threaded baseline) over Arrow-sized
    batches of the scored documents, next to untraced process_batch.
    Returns ({metric: value}, documents whose replay differed)."""
    cfg = art.cfg
    docs = pdf
    if workload == "resume_write":
        done = set(workloads.prior_half(pdf, seed)["url"])
        docs = pdf[~pdf["url"].isin(done)].reset_index(drop=True)
    batch_rows = math.ceil(len(docs) / cfg.shuffle_partitions)
    staged = docs.drop(columns=["html"])
    zh_r, en_r = score_mod.make_workers(art)
    zh_d, en_d = score_mod.make_workers(art)
    tracer = replay.Tracer()
    pb_ms, bad = 0.0, 0
    n_docs = 0
    for b in range(REPLAY_BATCHES):
        batch = staged.iloc[b * batch_rows:(b + 1) * batch_rows].reset_index(drop=True)
        n_docs += len(batch)
        # alternate which side meets the batch first
        if b % 2:
            traced = replay.replay_batch(batch.copy(), zh_r, en_r, cfg, tracer, b)
        t0 = time.perf_counter_ns()
        direct = score_mod.process_batch(batch.copy(), zh_d, en_d, cfg)
        pb_ms += (time.perf_counter_ns() - t0) / 1e6
        if not b % 2:
            traced = replay.replay_batch(batch.copy(), zh_r, en_r, cfg, tracer, b)
        if not checks.frames_equal(traced, direct):
            bad += len(batch)
            log(f"replay batch {b} differs from process_batch")
    totals = tracer.totals()
    out = {}
    for name, counters in replay.LAYERS.items():
        ms, counts = totals[name]
        out[f"{name}.ms"] = ms
        for c in counters:
            out[f"{name}.{c}"] = float(counts[c])
    det = totals["refimpl.core.Corrector.detect"][1]["suspects"]
    cor = totals["refimpl.core.Corrector.correct"][1]["corrections"]
    out["refimpl.core.Corrector.correct.useful_ratio"] = cor / det if det else 0.0
    # process_batch.ms is the traced batch span, so glue is its self time
    # and the layers plus glue add up to it exactly; the untraced calls give
    # the single-threaded baseline and the tracing overhead
    replay_ms = totals[replay.BATCH_SPAN][0]
    out["operators.score.process_batch.ms"] = replay_ms
    out["operators.score.glue.ms"] = replay_ms - sum(totals[name][0] for name in replay.LAYERS)
    out["operators.score.serial_docs_per_s"] = n_docs / (pb_ms / 1e3)
    out["trace.replay_overhead_pct"] = 100.0 * (replay_ms - pb_ms) / pb_ms

    artifact_ms = []
    for _ in range(3):
        score_mod.default_artifacts.cache_clear()
        t0 = time.perf_counter_ns()
        built = score_mod.default_artifacts()
        artifact_ms.append((time.perf_counter_ns() - t0) / 1e6)
    out["operators.score.default_artifacts.ms"] = statistics.median(artifact_ms)
    out["operators.score.default_artifacts.pickled_bytes"] = float(
        record.artifacts_fingerprint(built)["pickled_bytes"])

    rec["replay"] = {"docs": n_docs, "batch_rows": batch_rows, "bad_docs": bad,
                     "spans": [s.as_dict() for s in tracer.spans]}
    return out, bad


def spark_layers(event_dir, rec) -> dict:
    """Stage and sink metrics of the measured job group's event log."""
    scoped = eventlog.read_scoped(event_dir, MEASURED_GROUP)
    rec["event_log"] = {"job_group": MEASURED_GROUP, "jobs": len(scoped.jobs),
                        "stages": scoped.stage_table()}
    return {**scoped.spark_metrics(), **scoped.sink_metrics()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    rec = run(args)
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    for name, m in rec["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} error_rate = {rec['error_rate']:.6g} (failed {rec['failed']} / attempted {rec['attempted']})")
    print(json.dumps({
        "record": os.path.relpath(path, ROOT), "workload": args.workload, "seed": args.seed,
        "cores": rec["cores"], "dims": rec["artifacts"]["flavor"],
        "artifacts_sha256": rec["artifacts"]["sha256"][:16], "config_sha256": rec["config_sha256"][:16],
        "input_sha256": rec["input"]["content_sha256"][:16], "git_commit": rec["git_commit"],
        "load": [rec["load_before"], rec["load_after"]], "drop_reasons": rec["drop_reasons"],
    }, separators=(",", ":")))
    correct = rec["failed"] == 0 and not rec["failed_passes"] and len(rec["digests"]) == 1
    print(json.dumps({
        "correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": rec["metrics"],
    }, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
