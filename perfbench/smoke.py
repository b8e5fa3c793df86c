#!/usr/bin/env python3
"""Smoke run of the benchmark at tiny size (about five minutes).

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs ``run.py --size tiny`` untraced
and traced and checks that the last output line is the result object, that
every end-to-end (untraced) and per-layer (traced) metric prints by name with
its unit, and that all output checks pass. It then runs each workload once
with ``--wrong-expected``, which falsifies one expected result, and checks
that the run reports failed operations. (The tracing overhead is measured at
full size by ``overhead.py``.)

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_benchmark(workload: str, trace: int, seed: str, seconds: str, size: str, *extra: str) -> dict:
    """Run ``run.py`` once from the checkout root; returns its result object."""
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload",
        workload,
        "--seed",
        seed,
        "--seconds",
        seconds,
        "--trace",
        str(trace),
        "--size",
        size,
        *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd[1:])} exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []

    def check(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in bench["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run_benchmark(name, trace, "7", "3", "tiny")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(set(out) == {"correct", "attempted", "failed", "metrics"}, f"{name} trace={trace}: result keys")
            check(got == want, f"{name} trace={trace}: every {key} metric by name and unit")
            check(
                out["correct"] and out["failed"] == 0 and out["attempted"] > 0,
                f"{name} trace={trace}: {out['attempted']} operations, {out['failed']} failed",
            )
        out = run_benchmark(name, 0, "7", "3", "tiny", "--wrong-expected")
        check(
            not out["correct"] and out["failed"] > 0,
            f"{name}: a wrong expected result is reported as {out['failed']} failed operation(s)",
        )
    print("smoke:", "passed" if not problems else f"{len(problems)} check(s) failed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
