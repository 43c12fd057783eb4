#!/usr/bin/env python3
"""Benchmark of the transcript validation job, end to end and per layer.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process drives ``local[nproc]``.  It
generates its inputs from ``--seed`` outside every timed window, calls
the program's public functions, checks every call's outputs against
DuckDB, and prints one JSON object as the last line of stdout:

- ``--trace 0``: end-to-end metrics (``turns_per_s``, ``first_call_s``,
  ``setup_s``, ``peak_rss_mb``, ``pass_ratio``) from an untraced run;
- ``--trace 1``: per-layer metrics.  After the same warm-up, one
  untraced and one traced end-to-end call (their difference is the
  tracing overhead), then each layer's public function in isolation
  inside a span, in a fresh SparkContext with the event log on; stage
  metrics come from that log, grouped by job group.

Scratch data, the Spark local dir and the sinks live in
``.perfbench_work/`` under the repository root and are removed at exit;
per-call samples (wall time and hypervisor steal) and spans are kept in
``.perfbench_out/``.  Spark's own logging goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("headline", "resume")
#: input generations per run; setup_s counts their median
SETUP_REPEATS = 3

END_TO_END_UNITS = {"turns_per_s": "1/s", "first_call_s": "s", "setup_s": "s",
                    "peak_rss_mb": "MB", "pass_ratio": "ratio"}
LAYERS = ("validation", "sequence", "uniqueness", "referential", "stats",
          "drift", "sink", "checkpoint", "clean", "pipeline")
STAGE_UNITS = {"jobs": "count", "stages": "count", "executor_cpu_s": "s",
               "shuffle_write_mb": "MB", "spill_mb": "MB"}
LAYER_UNITS = {
    "validation.violations_s": "s", "validation.partition_summary_s": "s",
    "validation.rows_failed": "count", "sequence.s": "s", "uniqueness.s": "s",
    "referential.s": "s", "stats.s": "s", "drift.s": "s", "sink.write_s": "s",
    "sink.rows": "count", "sink.mb": "MB", "sink.rollup_s": "s",
    "checkpoint.pending_s": "s", "checkpoint.record_s": "s",
    "checkpoint.units_pending": "count", "clean.health_s": "s",
    "clean.neardup_s": "s", "clean.report_s": "s", "clean.candidate_pairs": "count",
    "pipeline.s": "s",
    "pipeline.overlap_ratio": "ratio", "pipeline.trace_overhead_s": "s",
}


def log(**fields) -> None:
    print(json.dumps(fields), file=sys.stderr, flush=True)


def call_plan(workload: str, seconds: float) -> tuple[int, int]:
    """(warm-up calls, steady calls) from the recorded cold-to-steady
    curves (perfbench/warmup.json, made by curve.py).  The steady calls
    are as many tail-of-curve calls as fill ``seconds``, fixed per
    workload: a count that followed the clock would give slow runs
    fewer, earlier calls and so a second mode in the results."""
    with open(os.path.join(HERE, "warmup.json")) as f:
        rec = json.load(f)
    tail = statistics.median(statistics.median(c[-max(1, len(c) // 3):])
                             for c in rec["curves_s"][workload].values())
    return int(rec["warmup_calls"][workload]), max(1, round(seconds / tail))


def driver_heap() -> str:
    """A quarter of physical RAM, between 1 and 6 GiB."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(6144, ram // 4 // 2**20))}m"


def session(event_dir: str | None = None):
    from cerberus_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_heap()
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # the whole heap from the start: heap growth is then not left
        # to GC timing, which varies from run to run; no perf-data file
        # in /tmp, which is outside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(parallelism=len(os.sched_getaffinity(0)), app_name="perfbench",
                      driver_memory=heap, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Calls:
    """Makes and checks calls; every call counts toward attempted."""

    def __init__(self, w, samples: list[dict]):
        self.w, self.samples = w, samples
        self.attempted = self.failed = 0

    def __call__(self, phase: str, wrap=contextlib.nullcontext) -> float | None:
        """Wall seconds of one call made inside ``wrap()``, or None when
        it failed."""
        from measure import Sample

        self.attempted += 1
        s, problems = Sample(), ["call raised"]
        try:
            self.w.before_call()
            with wrap(), s:
                self.w.call()
            problems = self.w.check()
        except Exception:  # a failing call is a measured outcome, not a crash
            traceback.print_exc(file=sys.stderr)
        for p in problems[:5]:
            log(problem=p)
        self.failed += bool(problems)
        rec = {"phase": phase, "k": self.attempted, "wall_s": getattr(s, "wall", None),
               "steal_pct": getattr(s, "steal", None), "ok": not problems}
        self.samples.append(rec)
        log(**rec)
        return None if problems else s.wall

    def final(self, problems: list[str]) -> None:
        """Checks made after the calls; a problem fails the last call."""
        for p in problems:
            log(problem=p)
        if problems and self.samples[-1]["ok"]:
            self.samples[-1]["ok"] = False
            self.failed += 1


def setup(w) -> tuple[object, float]:
    """Session start, input generation (repeated; the median counts)
    and the first open of the table; returns the session and set-up
    seconds."""
    t0 = time.perf_counter()
    spark = session()
    started = time.perf_counter() - t0
    gens = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        w.prepare()
        gens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    w.load(spark)
    loaded = time.perf_counter() - t0
    log(session_s=started, generate_s=gens, load_s=loaded)
    w.expect()
    return spark, started + statistics.median(gens) + loaded


def run(args, rss) -> dict:
    import workloads

    w = workloads.make(args.workload, args.seed, os.path.join(WORK, "w"))
    samples: list[dict] = []
    spark, setup_s = setup(w)
    calls = Calls(w, samples)
    n_warm, n_steady = call_plan(args.workload, args.seconds)
    first = calls("first")
    for _ in range(n_warm - 1):
        calls("warm")
    run_id = f"{args.workload}-seed{args.seed}-{uuid.uuid4().hex[:8]}"
    if args.trace:
        metrics = traced(w, spark, calls, run_id)
        wanted = per_layer_names()
    else:
        steady = [calls("steady") for _ in range(n_steady)]
        steady = [x for x in steady if x is not None]
        calls.final(w.final_check())
        spark.stop()
        metrics = {
            "turns_per_s": w.turns_per_call / statistics.median(steady) if steady else 0.0,
            "first_call_s": first or 0.0, "setup_s": setup_s,
            "peak_rss_mb": rss.peak_kb / 1024,
            "pass_ratio": (calls.attempted - calls.failed) / calls.attempted,
        }
        wanted = list(END_TO_END_UNITS)
    with open(os.path.join(OUT, f"{run_id}.samples.jsonl"), "w") as f:
        for x in samples:
            f.write(json.dumps(x) + "\n")
    return {
        "correct": calls.failed == 0,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": unit(k)} for k in wanted},
    }


def unit(name: str) -> str:
    return (END_TO_END_UNITS.get(name) or LAYER_UNITS.get(name)
            or STAGE_UNITS[name.split(".")[-1]])


def per_layer_names() -> list[str]:
    return list(LAYER_UNITS) + [f"{l}.{m}" for l in LAYERS for m in STAGE_UNITS]


def traced(w, spark, calls, run_id: str) -> dict:
    """One untraced and one traced end-to-end call, each in a fresh
    SparkContext of the same (already warm) JVM, the second with the
    event log on; then each layer in isolation under its own span."""
    from layers import PIPELINE_PARTS, run_layers
    from measure import Tracer, stage_metrics

    spark.stop()
    spark = session()
    w.load(spark)
    untraced_s = calls("untraced") or 0.0
    spark.stop()
    events = os.path.join(WORK, "events")
    spark = session(event_dir=events)
    w.load(spark)
    tracer = Tracer(spark, run_id)
    traced_s = calls("traced", lambda: tracer.span("pipeline")) or 0.0
    calls.final(w.final_check())
    problems: list[str] = []
    counts = run_layers(w, tracer, problems)
    calls.final(problems)
    spark.stop()
    tracer.dump(os.path.join(OUT, f"{run_id}.spans.jsonl"))

    sec = tracer.seconds
    m = {
        "validation.violations_s": sec("validation.violations"),
        "validation.partition_summary_s": sec("validation.partition_summary"),
        "sequence.s": sec("sequence"), "uniqueness.s": sec("uniqueness"),
        "referential.s": sec("referential"), "stats.s": sec("stats"),
        "drift.s": sec("drift"), "sink.write_s": sec("sink.write"),
        "sink.rollup_s": sec("sink.rollup"),
        "checkpoint.pending_s": sec("checkpoint.pending"),
        "checkpoint.record_s": sec("checkpoint.record"),
        "clean.health_s": sec("clean.health"), "clean.neardup_s": sec("clean.neardup"),
        "clean.report_s": sec("clean.report"),
        "pipeline.s": traced_s,
        "pipeline.overlap_ratio": sum(sec(p) for p in PIPELINE_PARTS) / traced_s
        if traced_s else 0.0,
        "pipeline.trace_overhead_s": traced_s - untraced_s,
        **counts,
    }
    by_group = stage_metrics(events, tracer.spans)
    for layer in LAYERS:
        for stat in STAGE_UNITS:
            m[f"{layer}.{stat}"] = sum(
                g[stat] for name, g in by_group.items()
                if name and name.split(".")[0] == layer)
    return m


def stop_jvm() -> None:
    """Shut down the JVM that PySpark launched (and with it the Python
    workers it forked) and wait until it has exited."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def prepare_env() -> bool:
    """Make the program importable and point every scratch path into
    WORK; False when the program under test is missing."""
    sys.path.insert(0, ROOT)
    try:
        import cerberus_spark.pipeline  # noqa: F401
        import jobs.validate_job  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: program not importable from {ROOT}: {exc}", file=sys.stderr)
        return False
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.environ["TMPDIR"])
    os.makedirs(OUT, exist_ok=True)
    return True


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not prepare_env():
        return 2

    from measure import PeakRss

    try:
        with PeakRss() as rss:
            result = run(args, rss)
    finally:
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
