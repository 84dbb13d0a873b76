"""End-to-end benchmark of the feast_hive_spark engine.

    python3 perfbench/run.py --workload feast_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates every input from ``--seed``
under ``.perfbench_work/``, sets the engine up on a fresh JVM, drives
it through its public API in a closed loop for ``--seconds`` (whole
cycles of the workload's operations), checks each measured operation
against DuckDB, and prints two JSON lines: a detail line, then the
result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` they are the per-layer ones
(``per_layer``), and the spans go to ``.perfbench_out/``.

Workload parameters and the reasons for each workload are in
``perfbench/workloads.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CPUS = 4


def _environment(work: str) -> int:
    """Keep every file Spark, the JVM and Python write inside the
    checkout; pin the task-thread count and the process time zone; let
    Spark's Python workers import the engine."""
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    for sub in ("tmp", "local", "metastore"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_METASTORE_DIR": os.path.join(work, "metastore"),
            "TMPDIR": os.path.join(work, "tmp"),
            # no hsperfdata files in the system temp directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "TZ": "UTC",
            # Spark's Python workers import the engine's UDFs from here
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    return cpus


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        ap.error(f"unknown workload {args.workload!r}")

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    cpus = _environment(work)
    sys.path.insert(0, ROOT)
    try:
        import summary
        import workloads

        run = workloads.Run(
            cfg, args.workload, args.seed, args.seconds, bool(args.trace), work, cpus
        )
        wl = workloads.WORKLOADS[args.workload](run)
        run.extra["inputs_s"] = time.perf_counter() - started
        try:
            run.setup(wl.prepare)
            run.loop(wl.cycle, wl.step)
            rss = summary.peak_rss(run.jvm_pid())
            run.check_all()
        finally:
            wl.finish()
            t0 = time.perf_counter()
            run.shutdown()
            run.extra["shutdown_s"] = time.perf_counter() - t0
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.write(
                os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            )
        detail, result = summary.summarize(run, wl, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
