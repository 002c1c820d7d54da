#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds a Spark session on ``local[<cores>]``,
generates the workload's inputs from the seed, measures for about
``--seconds`` seconds, checks every output outside the timed region and
prints, as its last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
BENCHMARK.json, with ``--trace 1`` the ``per_layer`` list. Lines before it
give a readable table, the failed checks and, for traced runs, the span file.
Metric names and units come from BENCHMARK.json; the workloads live in
``perfbench/workloads``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stateful_pairs", "batch_queries")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(workdir: str) -> None:
    """Keep every file the run writes inside ``workdir``, and make the
    package importable by this process and by Spark's Python workers."""
    os.makedirs(workdir, exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _spark_conf(workdir: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    workdir = os.path.join(ROOT, ".perfbench_runs", run_id)
    _isolate(workdir)

    import harness  # noqa: E402  (needs sys.path from _isolate)

    workload = importlib.import_module(f"workloads.{args.workload}")
    tracer = harness.Tracer(bool(args.trace), run_id)
    checks = harness.Checks()
    cores = _cores()
    try:
        with harness.RssSampler() as rss:
            conf = _spark_conf(workdir)
            spark = harness.start_session(cores, tracer, conf)
            ctx = harness.Context(
                spark=spark, seed=args.seed, seconds=args.seconds, cores=cores,
                tracer=tracer, checks=checks, workdir=workdir, conf=conf,
            )
            try:
                # set-up ends when the workload's own warm-up has run
                workload.warm(ctx)
                setup_s = time.time() - harness.process_start_time()
                got = workload.run(ctx)
            finally:
                ctx.spark.stop()
        got["setup_s"] = setup_s
        got["session.get_spark_s"] = tracer.total("session.get_spark")
        got["peak_rss_mb"] = rss.peak_mb
        if args.trace:
            span_file = os.path.join(ROOT, ".perfbench_runs", f"{run_id}.spans.json")
            tracer.dump(span_file)
            print(f"spans and progress: {os.path.relpath(span_file, ROOT)}")
            for name, secs in sorted(tracer.self_times().items()):
                print(f"{args.workload:15s} self time {name:30s} {secs:10.3f} s")
    finally:
        harness.stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)

    metrics = {}
    for m in wanted:
        # a layer the workload does not use did no work: its count or time is 0
        metrics[m["name"]] = {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
    for name, v in metrics.items():
        print(f"{args.workload:15s} {name:40s} {v['value']:14.4f} {v['unit']}")
    if "turns_per_s" in got:
        # input turns / suite_s: the reciprocal of suite_s, so not a metric of its own
        print(f"{args.workload:15s} {'turns_per_s (report only)':40s} {got['turns_per_s']:14.4f} 1/s")
    print(f"{args.workload:15s} {'failed_ratio':40s} "
          f"{checks.failed / max(checks.attempted, 1):14.4f} ratio "
          f"({checks.failed}/{checks.attempted} checks)")
    for failure in checks.failures:
        print(f"FAILED CHECK: {failure}")
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
