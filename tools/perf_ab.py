"""Same-session A/B of two checkouts on one benchmark workload.

Runs ``perfbench/run.py --trace 0`` once per seed in each checkout,
alternating which side runs first (pair i: base first when i is even), so
a drift in the host's load hits both sides alike.  Prints, per end-to-end
metric of ``BENCHMARK.json``: every sample, the median, the quartiles and
IQR, the pair wins of the change and the median gain over the base IQR.

Usage::

    python3 tools/perf_ab.py --base ../parent --change . \\
        --workload incremental_refresh --seeds 601-610 [--seconds 6] \\
        [--out ab.json]

``--seeds`` takes ``a-b`` ranges and comma lists (``601-605,700``).  Each
checkout generates and caches its own inputs in ``.perfbench_cache/``.
A run that exits non-zero or prints no result line stops the A/B.
Quartiles are the inclusive (linear interpolation) kind.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec: str) -> list[int]:
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {p.returncode})")
    out = json.loads(lines[-1])
    return {"failed": out["failed"], "attempted": out["attempted"],
            **{k: v["value"] for k, v in out["metrics"].items()}}


def fmt(xs: list[float]) -> str:
    return "/".join(f"{x:.4g}" for x in xs)


def summarize(base: list[float], change: list[float], higher_better: bool) -> dict:
    def stats(xs):
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        return {"samples": xs, "median": med, "q1": q1, "q3": q3, "iqr": q3 - q1}

    b, c = stats(base), stats(change)
    sign = 1 if higher_better else -1
    wins = sum(sign * (y - x) > 0 for x, y in zip(base, change))
    gain = sign * (c["median"] - b["median"])
    return {"base": b, "change": c, "wins": wins, "pairs": len(base),
            "median_gain": gain,
            "median_gain_frac": gain / b["median"] if b["median"] else 0.0,
            "gain_over_base_iqr": gain / b["iqr"] if b["iqr"] else float("inf")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--out", help="also write the result as JSON here")
    args = ap.parse_args(argv)
    seeds = parse_seeds(args.seeds)
    if len(seeds) < 2:
        ap.error("--seeds must name at least two seeds (quartiles need two samples)")

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = {m["name"]: m["better"] == "higher" for m in json.load(f)["end_to_end"]}
    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    runs = {"base": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run_once(sides[side], args.workload, seed, args.seconds)
            runs[side].append(r)
            print(f"seed {seed} {side:6s} " + " ".join(
                f"{m}={r[m]:.4g}" for m in metrics) + f" failed={r['failed']}/{r['attempted']}",
                flush=True)

    result = {"workload": args.workload, "seeds": seeds,
              "failed": {s: sum(r["failed"] for r in runs[s]) for s in runs},
              "attempted": {s: sum(r["attempted"] for r in runs[s]) for s in runs},
              "metrics": {}}
    for m, higher in metrics.items():
        s = summarize([r[m] for r in runs["base"]], [r[m] for r in runs["change"]], higher)
        result["metrics"][m] = s
        print(f"{m} ({'higher' if higher else 'lower'} is better)\n"
              f"  base   {fmt(s['base']['samples'])}  median {s['base']['median']:.4g} "
              f"quartiles {s['base']['q1']:.4g}-{s['base']['q3']:.4g} IQR {s['base']['iqr']:.4g}\n"
              f"  change {fmt(s['change']['samples'])}  median {s['change']['median']:.4g} "
              f"quartiles {s['change']['q1']:.4g}-{s['change']['q3']:.4g} "
              f"IQR {s['change']['iqr']:.4g}\n"
              f"  change wins {s['wins']}/{s['pairs']} pairs; median gain "
              f"{s['median_gain']:.4g} ({100 * s['median_gain_frac']:+.1f}%), "
              f"{s['gain_over_base_iqr']:.2f}x the base IQR")
    print(f"failed: base {result['failed']['base']}/{result['attempted']['base']}, "
          f"change {result['failed']['change']}/{result['attempted']['change']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
