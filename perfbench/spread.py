"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload msearch --seeds 1-5 [--out runs.jsonl]

Runs ``perfbench/run.py`` once per seed (untraced, ``run_seconds`` from
BENCHMARK.json), then prints for every end-to-end metric its median,
its quartile spread (Q3 - Q1 over the median, quartiles as
``statistics.quantiles(values, n=4)`` gives them) and that spread as a
share of the metric's bound. A benchmark is steady when every spread
but ``setup_s``'s stays below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import layers

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", help="append every run's result line to this file")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in parse_seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=180)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "info": json.loads(lines[-2]),
                                    "result": result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for name in values:
            values[name].append(result["metrics"][name]["value"])
    print(f"{'metric':28} {'median':>12} {'spread':>8} {'bound':>6} {'share':>6}")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        spread = layers.quartile_spread(xs) if len(xs) > 1 else float("nan")
        print(f"{m['name']:28} {layers.median(xs):12.4f} {spread:8.4f} "
              f"{m['bound']:6.2f} {spread / m['bound']:6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
