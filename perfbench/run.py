#!/usr/bin/env python3
"""esbulk_spark benchmark: one command per workload.

    python3 perfbench/run.py --workload serve_topk --seed 1 --seconds 16 --trace 0

Runs from any working directory; it builds nothing and writes only under
``.perfbench/`` at the repository root (inputs, Spark scratch, indexes,
traces), deleting each run's scratch when it ends. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric of BENCHMARK.json with ``--trace
0``, every per-layer metric with ``--trace 1``). The line before it,
prefixed ``# perfbench``, records the host (nproc, Spark parallelism, a
fixed-cost canary) and sample counts. The exit code is 1 when a
correctness check fails.

The first run in a checkout first builds the cached indexes (see
``prepare.py``). A traced run also writes every span and counter to
``.perfbench/traces/<workload>-seed<seed>-<pid>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
BENCH = os.path.join(ROOT, "BENCHMARK.json")
DRIVER_MEMORY = "2g"
CANARY_ROWS = 1 << 23


def open_session(work: str):
    """A local[nproc] session from the program's own factory, with every
    scratch path (shuffle, warehouse, JVM and Python temp) under
    ``work``. Spark's Python workers find the program, the esbulk_spark
    package beside this directory, through the PYTHONPATH main() sets."""
    from esbulk_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    spark = get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit: it quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def canary(spark) -> float:
    """Fixed-cost pure-CPU Spark job (a crc32 per row, no I/O), run twice
    and the second timed: its time depends only on host contention, so a
    slow window shows in the artifact. Each run plans a new DataFrame; a
    re-collected one would reuse its shuffle output."""
    def job():
        spark.range(CANARY_ROWS, numPartitions=16).selectExpr("sum(crc32(cast(id as string)))").collect()

    job()
    t0 = time.perf_counter()
    job()
    return time.perf_counter() - t0


def main() -> int:
    t_start = time.perf_counter()
    with open(BENCH) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import esbulk_spark  # noqa: F401  (fails fast outside a checkout)
    import spans as tr
    import workloads

    # the cached indexes are built once per checkout in a session of
    # their own, so every measured run starts from a cold JVM
    prepare_s = 0.0
    if not workloads.caches_ready(STATE):
        subprocess.run([sys.executable, os.path.join(HERE, "prepare.py")], check=True)
        prepare_s = time.perf_counter() - t_start

    work = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    t0 = time.perf_counter()
    spark = None
    try:
        spark = open_session(work)
        tracer = tr.Tracer(spark if args.trace else None)
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds, bool(args.trace))
        run.setup_s = time.perf_counter() - t0
        if args.trace:
            tr.instrument(tracer)
        workloads.WORKLOADS[args.workload](run, STATE)
        tracer.restore()
        run.phase("gate")
        canary_s = canary(spark)
        run.metrics["setup_s"] = run.setup_s
        detail = dict(run.detail, workload=args.workload, seed=args.seed,
                      nproc=len(os.sched_getaffinity(0)),
                      spark_parallelism=spark.sparkContext.defaultParallelism,
                      canary_s=canary_s, prepare_s=prepare_s, phases=run.phases, checks=run.checks)
        if args.trace:
            run.layers.update(tr.layer_metrics(tracer, *run.query_samples))
            run.layers["host.canary_s"] = canary_s
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            tracer.write(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                         {"detail": detail, "metrics": run.metrics, "layers": run.layers})
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = run.layers if args.trace else run.metrics
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in want}
    detail["run_s"] = time.perf_counter() - t_start
    print("# perfbench " + json.dumps(detail, default=str))
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
