#!/usr/bin/env python3
"""Product-path benchmark of osm_pbf_parquet_spark.

Run from the repository root:

    python3 perfbench/run.py --workload pages_ingest_serve --seed 1 \\
        --seconds 20 --trace 0
    python3 perfbench/run.py --workload osm_transcode --smoke

The last line on stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A traced run also writes its spans, layer table and
tracing overhead to ``.perfbench_work/traces/``. ``--smoke`` runs a
tiny-size self-check of the benchmark instead. Everything a run writes
stays under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def isolate(work: str) -> None:
    """Point every temporary-file location at ``work`` and let the
    Python workers import the engine from the checkout. Must run
    before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def start_session(work: str):
    """SparkSession plus one trivial mapInArrow, so the JVM and the
    Python worker pool are up. Returns (session, seconds)."""
    from harness import CORES, build_session

    t0 = time.perf_counter()
    spark = build_session(work)
    df = spark.range(0, CORES, 1, CORES)
    df.mapInArrow(lambda batches: batches, df.schema).collect()
    return spark, time.perf_counter() - t0


def run_once(spark, session_s: float, workload: str, seed: int,
             seconds: float, trace: bool, work: str, smoke: bool = False):
    from workloads import Run

    run = Run(spark, workload, seed, work, trace, smoke)
    phases = {"session": session_s}
    try:
        t0 = time.perf_counter()
        setup_s = session_s + run.setup()
        phases["setup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        run.prepare_checks()
        phases["checks"] = time.perf_counter() - t0
        phases["measure"] = run.measure(seconds)
        phases["warmup"] = run.warmup_s
        if trace:
            metrics = run.per_layer()
            run.write_trace(os.path.join(
                WORK_ROOT, "traces", f"{workload}-seed{seed}.json"), metrics)
        else:
            metrics = run.end_to_end(setup_s)
    finally:
        run.close()
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    def rounded(d):
        return json.dumps({k: [round(x, 3) for x in v] for k, v in d.items()})

    print(f"perfbench: phase seconds {rounded({k: [v] for k, v in phases.items()})}"
          f" walls {rounded(run.walls)} parquet walls {rounded(run.base_walls)}"
          f" warm-up walls {rounded(run.warm_walls)}",
          file=sys.stderr)
    return run, {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def self_check(spark, session_s: float, workload: str, work: str) -> int:
    """Tiny-size runs in both modes: every metric of BENCHMARK.json is
    printed with its unit, and a store with one flipped payload byte
    fails its scan through the engine's crc32 check."""
    from workloads import corrupt_copy

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    run = None
    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        run, res = run_once(spark, session_s, workload, 1, 0.0, trace, work,
                            smoke=True)
        want = {m["name"]: m["unit"] for m in bench[section]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            problems.append(f"{section}: metrics {sorted(set(got) ^ set(want))}"
                            f" or units differ")
        if not res["correct"]:
            problems.append(f"{section}: run not correct: {run.errors[:3]}")
    bad = corrupt_copy(run.stores[-1], os.path.join(work, "stores", "bad"))
    before = run.failed
    run.run_op("scan", False, bad)
    if run.failed != before + 1 or "checksum mismatch" not in run.errors[-1]:
        problems.append("flipped payload byte did not fail the scan through "
                        "the crc32 check")
    for p in problems:
        print(f"perfbench self-check: {p}", file=sys.stderr)
    print(json.dumps({"self_check": workload, "ok": not problems}))
    return 1 if problems else 0


def main(argv=None) -> int:
    from workloads import SPECS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny-size self-check of the benchmark")
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    isolate(work)
    try:
        import osm_pbf_parquet_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        shutil.rmtree(WORK_ROOT, ignore_errors=True)
        return 2
    spark = None
    try:
        spark, session_s = start_session(work)
        if args.smoke:
            return self_check(spark, session_s, args.workload, work)
        _, result = run_once(spark, session_s, args.workload, args.seed,
                             args.seconds, bool(args.trace), work)
    finally:
        if spark is not None:
            from harness import stop_session

            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
