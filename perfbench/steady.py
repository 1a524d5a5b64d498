"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py --runs 10 --first-seed 100 [--workload NAME ...] [--out FILE]

Runs the benchmark once per seed (``--first-seed`` onwards) for each
workload, with tracing off and ``run_seconds`` from ``BENCHMARK.json``,
one run at a time, and fails when a run leaves a Spark JVM or Python
worker behind.  For every end-to-end metric it reports the median and
the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.  With
``--out`` the runs and the summary are written as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# command-line marks of the processes a PySpark session starts
SPARK_MARKS = (b"org.apache.spark", b"pyspark.daemon", b"pyspark.worker")


def spark_processes() -> set[int]:
    found = set()
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if name.isdigit() and any(m in cmd for m in SPARK_MARKS):
            found.add(int(name))
    return found


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    report = {"run_seconds": bench["run_seconds"], "runs": [], "summary": {}}
    for name in names:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for i in range(args.runs):
            seed = args.first_seed + i
            before = spark_processes()
            t0 = time.perf_counter()
            proc = subprocess.run(
                [*bench["command"], "--workload", name, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=180,
            )
            wall = time.perf_counter() - t0
            left = sorted(spark_processes() - before)
            if left:
                raise SystemExit(f"{name} seed {seed}: processes left running: {left}")
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr[-3000:])
                raise SystemExit(f"{name} seed {seed}: exit {proc.returncode}")
            out = json.loads(lines[-1])
            row = {"workload": name, "seed": seed, "wall_s": round(wall, 2),
                   "correct": out["correct"], "attempted": out["attempted"],
                   "failed": out["failed"],
                   **{k: v["value"] for k, v in out["metrics"].items()},
                   "summary": lines[-2] if len(lines) > 1 else ""}
            report["runs"].append(row)
            for m in bounds:
                values[m].append(out["metrics"][m]["value"])
            print(json.dumps(row), flush=True)
        report["summary"][name] = {}
        for m, vals in values.items():
            med, spr = spread(vals)
            report["summary"][name][m] = {"median": med, "spread": round(spr, 4),
                                          "bound": bounds[m]}
            print(f"{name:22s} {m:12s} median {med:12.4f} spread {spr:.4f} bound {bounds[m]}",
                  flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
