#!/usr/bin/env python3
"""Benchmark of the engine's reference ingest path and its query surface.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (see DESIGN.md beside this file):

- ``ingest``     the reference job: file stream -> foreachBatch -> keyed
                 upsert -> catalog sync, analyst read after every commit;
                 each step commits one event file into ``UpsertTable``
                 (copy-on-write) and then into ``MergeOnReadTable``
                 (merge-on-read, default inline compaction).
- ``query_mix``  slot-cold rounds of eight registered queries to the noop
                 sink.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (name -> value and unit). With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, from spans around the calls into each layer, the streaming
progress reports and the Spark status store. Metric names and units are read
from ``BENCHMARK.json``. Progress goes to standard error; the run record
(host, notes, spans) goes to ``.perfbench_out/``.

``--size tiny`` and ``--wrong-expected`` exist for ``perfbench/smoke.py``.
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
PACKAGE = "aws_glue_streaming_etl_with_apache_hudi_spark"
#: Spark cores: at most the CPUs this process may use, and at most two. The
#: engine's per-commit and per-query work is mostly on the Spark driver, so on
#: a shared 4-core host two cores ran it as fast as four, with a lower
#: run-to-run spread, leaving the driver, the JIT and co-tenants room.
MAX_CPUS = 2
DRIVER_MEM = "2g"


def _host() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = value.strip()
    return {
        "time": time.time(),
        "cpus": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        **mem,
    }


def _pin_environment(run_dir: str) -> dict[str, str]:
    """Engine settings from the benchmark, not from engine defaults; every
    scratch location inside this run's directory. Returns the Spark confs."""
    cpus = str(min(len(os.sched_getaffinity(0)), MAX_CPUS))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()
    return {
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage of the run back from the
        # status store; keep them all, in untraced runs too, so that both
        # run the same configuration
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--size", choices=("normal", "tiny"), default="normal")
    parser.add_argument("--wrong-expected", action="store_true")
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, spec: dict, run_dir: str) -> int:
    host_start = _host()
    conf = _pin_environment(run_dir)
    sys.path.insert(1, ROOT)
    sys.path.append(os.path.join(ROOT, "tests"))  # oracle_utils
    from aws_glue_streaming_etl_with_apache_hudi_spark import get_spark

    from common import Run, log
    from tracing import Tracer, spark_layers

    log(f"host at start {json.dumps(host_start)}")
    start = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
        extra_conf=conf,
    )
    session_s = time.perf_counter() - start
    run = Run(
        spark=spark,
        run_dir=run_dir,
        seconds=args.seconds,
        seed=args.seed,
        tiny=args.size == "tiny",
        tracer=Tracer(spark, enabled=bool(args.trace)),
        wrong_expected=args.wrong_expected,
    )
    try:
        if args.workload == "query_mix":
            from querymix import run_query_mix

            result = run_query_mix(run)
        else:
            from ingest import run_ingest

            result = run_ingest(run)
        layers = dict(result.per_layer)
        if args.trace:
            layers.update(spark_layers(spark, run.windows, run.input_bytes, run.writers))
    finally:
        work_s = time.perf_counter() - start
        _stop(spark)

    host_end = _host()
    log(f"host at end {json.dumps(host_end)}")
    log(f"notes {json.dumps(run.notes)} session_start_s {session_s:.3f} work_s {work_s:.3f}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    per_layer = [m["name"] for m in spec["per_layer"]]
    if args.trace:
        unknown = set(layers) - set(per_layer)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        layers = {name: layers.get(name, 0.0) for name in per_layer}
    end_to_end = {m["name"] for m in spec["end_to_end"]}
    if set(result.end_to_end) != end_to_end:
        raise RuntimeError(f"end-to-end metrics {sorted(result.end_to_end)} are not {sorted(end_to_end)}")
    metrics = layers if args.trace else result.end_to_end
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host_start": host_start,
        "host_end": host_end,
        "session_start_s": session_s,
        "notes": run.notes,
        "steps_s": result.steps,
        "end_to_end": result.end_to_end,
        "per_layer": layers,
    }
    out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    run.tracer.dump(out, record)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
